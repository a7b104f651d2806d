package graft

import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

import graft.core.pdf.PdfText

/** The from-scratch PDF text parser: COS scan, FlateDecode, BT/ET text
  * operators, string syntax (escapes/octal/nesting/hex), totality on
  * hostile bytes, and the extractHtml payload routing.
  */
class PdfSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.ISO_8859_1)

  /** A minimal one-page PDF around the given content stream (no xref —
    * the parser is scan-based, like the repair paths of real readers).
    */
  private def pdf(content: String, declareLength: Boolean = true): Array[Byte] = {
    val body = bytes(content)
    val len = if (declareLength) s" /Length ${body.length}" else ""
    bytes(
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
         |4 0 obj <<$len >>
         |stream
         |$content
         |endstream
         |endobj
         |trailer << /Root 1 0 R >>
         |%%EOF
         |""".stripMargin)
  }

  private def flatePdf(content: String): Array[Byte] = {
    val raw = bytes(content)
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    val comp = java.util.Arrays.copyOf(buf, n)
    val head = bytes(
      s"%PDF-1.4\n4 0 obj << /Length ${comp.length} /Filter /FlateDecode >>\nstream\n")
    val tail = bytes("\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
    val out = new Array[Byte](head.length + comp.length + tail.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(comp, 0, out, head.length, comp.length)
    System.arraycopy(tail, 0, out, head.length + comp.length, tail.length)
    out
  }

  test("text operators: Tj, TJ arrays, quote ops, Td/T* line breaks") {
    val content =
      "BT\n72 720 Td (Hello world.) Tj\n" +
        "0 -14 Td [(Total: ) (42) ( units)] TJ\n" +
        "T* (third line) Tj\n" +
        "(fourth via quote) '\n" +
        "1 0 0 1 72 600 Tm (after Tm) Tj\nET"
    assert(PdfText.extractText(pdf(content)) ==
      "Hello world.\nTotal: 42 units\nthird line\nfourth via quote\nafter Tm\n")
  }

  test("string syntax: escapes, octal, nested parens, continuations, hex") {
    val content =
      "BT (paren \\(nested (deep) inside\\) end) Tj " +
        "T* (tab\\there \\101\\102\\103) Tj " +
        "T* (split\\\nline) Tj " +
        "T* <48657820 6C696E65> Tj " +
        "T* <4F6464> Tj ET"
    assert(PdfText.extractText(pdf(content)) ==
      "paren (nested (deep) inside) end\ntab\there ABC\nsplitline\nHex line\nOdd\n")
  }

  test("FlateDecode streams inflate and extract identically") {
    val content = "BT (compressed content extracts) Tj ET"
    assert(PdfText.extractText(flatePdf(content)) == "compressed content extracts\n")
  }

  test("ASCIIHex / ASCII85 filters and ordered filter chains decode") {
    val content = "BT (ascii filter text) Tj ET"
    // ASCIIHexDecode with interspersed whitespace and the > EOD
    val hex = content.getBytes(StandardCharsets.ISO_8859_1)
      .map(b => f"$b%02x").mkString(" ") + ">"
    val hexPdf = bytes(
      s"%PDF-1.4\n4 0 obj << /Length ${hex.length} /Filter /ASCIIHexDecode >>\nstream\n" +
        hex + "\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(hexPdf) == "ascii filter text\n")
    // ASCII85Decode (encode here, decode in the parser), with ~> EOD
    def a85(data: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < data.length) {
        val n = math.min(4, data.length - i)
        var v = 0L
        (0 until 4).foreach(k => v = (v << 8) | (if (i + k < data.length) data(i + k) & 0xff else 0))
        val cs = new Array[Char](5)
        var rem = v
        (4 to 0 by -1).foreach { k => cs(k) = ('!' + (rem % 85)).toChar; rem /= 85 }
        sb.appendAll(cs, 0, n + 1)
        i += 4
      }
      sb.append("~>").toString
    }
    val enc = a85(content.getBytes(StandardCharsets.ISO_8859_1))
    val a85Pdf = bytes(
      s"%PDF-1.4\n4 0 obj << /Length ${enc.length} /Filter /ASCII85Decode >>\nstream\n" +
        enc + "\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(a85Pdf) == "ascii filter text\n")
    // ordered chain: deflate THEN a85-encode; the decoder applies
    // [/ASCII85Decode /FlateDecode] left to right
    val d = new Deflater()
    d.setInput(content.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
    val buf = new Array[Byte](512)
    val nC = d.deflate(buf); d.end()
    val chainEnc = a85(java.util.Arrays.copyOf(buf, nC))
    val chainPdf = bytes(
      s"%PDF-1.4\n4 0 obj << /Length ${chainEnc.length} /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n" +
        chainEnc + "\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(chainPdf) == "ascii filter text\n")
    // corrupt a85 (illegal character) skips the stream, never throws
    val bad = bytes(
      "%PDF-1.4\n4 0 obj << /Length 9 /Filter /ASCII85Decode >>\nstream\nÿgarbage!\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(bad) == "")
  }

  /** Reference LZW encoder (TIFF/PDF variant, EarlyChange=1): keeps a
    * SIMULATED decoder state and writes each code at the width the
    * decoder will read it with — synchronization by construction.
    */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    import scala.collection.mutable
    val out = mutable.ArrayBuffer[Byte]()
    var acc = 0L
    var accBits = 0
    var decNext = 258
    var decWidth = 9
    var decHasPrev = false
    def put(code: Int): Unit = {
      acc = (acc << decWidth) | code
      accBits += decWidth
      while (accBits >= 8) {
        out += ((acc >>> (accBits - 8)) & 0xff).toByte
        accBits -= 8
      }
      if (code == 256) { decNext = 258; decWidth = 9; decHasPrev = false }
      else if (code != 257) {
        if (decHasPrev && decNext < 4096) decNext += 1
        decHasPrev = true
        if (decNext + 1 >= (1 << decWidth) && decWidth < 12) decWidth += 1
      }
    }
    put(256)
    val dict = mutable.HashMap[Seq[Byte], Int]()
    var next = 258
    var w = Vector.empty[Byte]
    def codeOf(ws: Seq[Byte]): Int =
      if (ws.length == 1) ws.head & 0xff else dict(ws)
    data.foreach { b =>
      val wb = w :+ b
      if (wb.length == 1 || dict.contains(wb)) w = wb
      else {
        put(codeOf(w))
        if (next < 4096) { dict(wb) = next; next += 1 }
        w = Vector(b)
      }
    }
    if (w.nonEmpty) put(codeOf(w))
    put(257)
    if (accBits > 0) out += ((acc << (8 - accBits)) & 0xff).toByte
    out.toArray
  }

  test("LZWDecode round-trips, incl. KwKwK, width growth, and the PDF path") {
    // KwKwK: runs of one byte force the code == next case immediately
    val kwkwk = Array.fill[Byte](50)('a')
    assert(java.util.Arrays.equals(PdfText.lzwDecode(lzwEncode(kwkwk)), kwkwk))
    // width growth to 10/11 bits: enough distinct pairs to pass 511/1023
    val rnd = new scala.util.Random(7)
    val wide = Array.fill[Byte](6000)((rnd.nextInt(64) + 32).toByte)
    assert(java.util.Arrays.equals(PdfText.lzwDecode(lzwEncode(wide)), wide))
    // deterministic fuzz round trips (mixed run lengths)
    (0 until 50).foreach { k =>
      val r = new scala.util.Random(k)
      val n = r.nextInt(2000)
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val run = 1 + r.nextInt(6)
        val v = r.nextInt(256).toByte
        var j = 0
        while (j < run && i < n) { b(i) = v; i += 1; j += 1 }
      }
      assert(java.util.Arrays.equals(PdfText.lzwDecode(lzwEncode(b)), b), s"seed $k")
    }
    // corrupt code stream: out-of-range code -> null, never a throw
    assert(PdfText.lzwDecode(Array[Byte](-1, -1, -1, -1)) == null)
    // end-to-end: an LZW-compressed content stream through the PDF path
    val content = "BT (lzw compressed body text) Tj ET"
    val enc = lzwEncode(content.getBytes(StandardCharsets.ISO_8859_1))
    val head = bytes(s"%PDF-1.4\n4 0 obj << /Length ${enc.length} /Filter /LZWDecode >>\nstream\n")
    val tail = bytes("\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(head ++ enc ++ tail) == "lzw compressed body text\n")
  }

  test("text outside BT/ET never collects; non-Flate filters are skipped") {
    val c = "(loose string) Tj BT (kept) Tj ET (also loose) Tj"
    assert(PdfText.extractText(pdf(c)) == "kept\n")
    val dct = bytes(
      "%PDF-1.4\n5 0 obj << /Length 20 /Filter /DCTDecode >>\nstream\n" +
        "BT (not text) Tj ET\nendstream endobj\n%%EOF\n")
    assert(PdfText.extractText(dct) == "")
  }

  test("isPdf: offset-0 magic accepts; a late mention needs PDF structure") {
    // offset 0 always routes
    assert(PdfText.isPdf(bytes("%PDF-1.4\nwhatever")))
    // junk-prefixed real PDF (spec-permitted) still routes: structure corroborates
    val junked = bytes("  junk ") ++ pdf("BT (j) Tj ET")
    assert(PdfText.isPdf(junked))
    assert(PdfText.extractText(junked) == "j\n")
    // an HTML page merely MENTIONING the magic early must NOT be misrouted
    // (round-7 ADVICE: its real content would be dropped to near-empty)
    assert(!PdfText.isPdf(bytes("<html><body><p>About the %PDF-1.7 format</p></body></html>")))
    assert(!PdfText.isPdf(bytes("plain text that says %PDF- and nothing more")))
    // a bare `stream` is prose, not structure: it must follow a dict's `>>`
    assert(!PdfText.isPdf(bytes(
      "<html><body><p>Save as %PDF-1.7</p><p>Watch the live streaming event\n" +
        "or the replay stream\n</p></body></html>")))
    // a multi-MB page is searched for structure only near its two ends, so
    // an `endobj` in the middle does not route it
    val filler = "<p>plain paragraph text</p>\n" * 100000
    val big = bytes(s"<html><body><p>%PDF-1.7 spec</p>$filler endobj $filler</body></html>")
    assert(big.length > 4000000)
    assert(!PdfText.isPdf(big))
    // the same junk-prefixed real PDF, padded to multi-MB, still routes
    assert(PdfText.isPdf(junked ++ bytes(filler)))
  }

  test("indirect /Length separated by any whitespace falls back to the scan") {
    // "/Length 12\n0 R" (newline-separated indirect ref) must not be read
    // as a direct length of 12 and truncate the stream (round-7 ADVICE)
    val b = bytes(
      "%PDF-1.4\n4 0 obj << /Length 12\n0 R >>\nstream\nBT (recovered text) Tj ET\nendstream endobj\n")
    assert(PdfText.extractText(b) == "recovered text\n")
  }

  test("missing /Length falls back to the endstream scan") {
    val content = "BT (no declared length) Tj ET"
    assert(PdfText.extractText(pdf(content, declareLength = false)) ==
      "no declared length\n")
  }

  test("total on hostile bytes: truncation, bogus lengths, corrupt deflate, fuzz") {
    val good = pdf("BT (x) Tj ET")
    // truncated mid-stream
    assert(PdfText.extractText(java.util.Arrays.copyOf(good, good.length / 2)) != null)
    // length far beyond the data: falls back to the endstream bound
    val bogus = bytes(
      "%PDF-1.4\n4 0 obj << /Length 999999 >>\nstream\nBT (bounded) Tj ET\nendstream endobj\n")
    assert(PdfText.extractText(bogus) == "bounded\n")
    // corrupt deflate body: skipped, not thrown
    val corrupt = bytes(
      "%PDF-1.4\n4 0 obj << /Length 8 /Filter /FlateDecode >>\nstream\nZZZZZZZZ\nendstream endobj\n")
    assert(PdfText.extractText(corrupt) == "")
    // deterministic byte fuzz with a PDF header
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(2048))
      rnd.nextBytes(b)
      val withMagic = bytes("%PDF-1.4\n") ++ b
      val t = PdfText.extractText(withMagic) // must not throw
      assert(t != null)
    }
  }

  test("the Spark pipeline extracts mixed HTML and PDF payloads in one pass") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.spark.{Page, Pipeline}
    val ts = new java.sql.Timestamp(1700000000000L)
    val pages = Seq(
      Page("https://h/doc.pdf", ts,
        pdf("BT (pdf body line one.) Tj T* (and line two.) Tj ET"), null, "en"),
      Page("https://h/page.html", ts,
        "<html><body><p>html body text</p></body></html>".getBytes("UTF-8"),
        null, "en")
    ).toDS()
    val out = Pipeline.extract(spark, pages).collect()
      .map(e => e.url -> e).toMap
    assert(out("https://h/doc.pdf").text == "pdf body line one.\nand line two.")
    assert(!out("https://h/doc.pdf").parse_failed)
    assert(out("https://h/page.html").text.contains("html body text"))
  }

  test("extractHtml routes PDF payloads through the parser end to end") {
    import graft.core.extract.Extractor
    val payload = pdf(
      "BT 72 720 Td (Main document body text.) Tj 0 -14 Td (Second paragraph here.) Tj ET")
    assert(PdfText.isPdf(payload))
    val ex = Extractor.extractHtml(payload)
    assert(ex.text == "Main document body text.\nSecond paragraph here.")
    assert(ex.tables.isEmpty && ex.regions == 0)
    assert(ex.sha256 == Extractor.sha256Hex(ex.text))
    // HTML payloads are untouched by the sniff
    val html = "<html><body><p>plain html page</p></body></html>".getBytes("UTF-8")
    assert(!PdfText.isPdf(html))
    assert(Extractor.extractHtml(html).text.contains("plain html page"))
  }
}
