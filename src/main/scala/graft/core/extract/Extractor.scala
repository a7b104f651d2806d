package graft.core.extract

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.core.detect.{Cascade, DetectConfig, DetectionOutcome, GridKind}
import graft.core.grid.{CellGrid, PyFloat, TableHit}
import graft.core.html.{GridRegion, PageParser, ParsedPage}

/** One detected table with its region index, ready for serialization.
  * The extraction fields come from TableExtractor (reference:
  * extractors/dataframe_extractor.py:52-116) run once in the same kernel
  * pass that detected the span.
  */
final case class DetectedTable(regionIdx: Int, kind: GridKind, origin: String,
    methodUsed: String, hit: TableHit,
    orientation: String = "", headerRows: Int = 0, extractHasHeaders: Boolean = false,
    tableType: String = "", quality: Double = 0.0, dataRows: Int = 0, dataCols: Int = 0)

/** One region-level author-declared metadata hint (region index + hint). */
final case class RegionHint(regionIdx: Int, source: String, name: String, confidence: Double)

/** Full per-page result of the core (non-Spark) extraction. */
final case class PageExtract(
    text: String,
    sha256: String,
    tables: Vector[DetectedTable],
    regions: Int,
    bytesStripped: Long,
    hints: Vector[RegionHint]
)

/** Page-level extraction: parse → detect per region → canonical text.
  *
  * The canonical text layout is this engine's deterministic contract (the
  * reference has no page concept): boilerplate-stripped text blocks joined
  * by newlines, then one block per detected table in document order —
  * a marker line carrying method/range/confidence (confidence rendered with
  * the same shortest-repr rules as Python `repr(float)` so goldens generated
  * from the reference semantics match byte-for-byte), the header row when
  * detected, then the data rows tab-joined using the Python-`str()` cell
  * values the reference's own extraction surface exposes
  * (reference: extractors/dataframe_extractor.py:118-155 values matrix).
  */
object Extractor {

  def extract(page: ParsedPage, config: DetectConfig = DetectConfig()): PageExtract = {
    val detected = Vector.newBuilder[DetectedTable]
    // DataFrame extraction is a separate stage in the reference too
    // (detect_tables vs DataFrameExtractor); it roughly 4x-es kernel cost,
    // so it only runs when the caller asks for the extraction surface
    val tableExtractor = if (config.extractTables) new TableExtractor() else null
    var regionIdx = 0
    page.regions.foreach { region =>
      val outcome = Cascade.detect(region.grid, region.kind)
      outcome.tables.take(DetectConfig.MaxTablesPerSheet).foreach { hit =>
        if (tableExtractor != null) {
          // stats-only variant: the span ships (rows, cols, quality) — the
          // TableData row Vectors extract() builds were always discarded
          val (shape, hi, quality) = tableExtractor.extractStats(region.grid, hit.span)
          detected += DetectedTable(regionIdx, region.kind, region.origin, outcome.methodUsed,
            hit, hi.map(_.orientation).getOrElse(""), hi.map(_.headerRows).getOrElse(0),
            hi.exists(_.hasHeaders), hi.map(_.tableType).getOrElse(""), quality,
            shape.map(_._1).getOrElse(0), shape.map(_._2).getOrElse(0))
        } else {
          detected += DetectedTable(regionIdx, region.kind, region.origin, outcome.methodUsed,
            hit)
        }
      }
      regionIdx += 1
    }
    val tables = detected.result()
    val text = canonicalText(page, tables)
    // author-declared metadata hints (standalone surface, like the
    // reference's ExcelMetadataExtractor — the cascade never consumes them)
    val hints = page.regions.iterator.zipWithIndex.flatMap { case (region, idx) =>
      graft.core.detect.MetadataHints.hints(region.meta)
        .map(h => RegionHint(idx, h.source, h.name, h.confidence))
    }.toVector
    PageExtract(text, sha256Hex(text), tables, page.regions.size, page.bytesStripped, hints)
  }

  // serialize-phase scratch: one builder per thread, reset per doc — the
  // builder's backing buffer is the second-largest serialize allocation
  // (the String itself is inherent output). A giant page can grow it; cap
  // retained capacity so one outlier doesn't pin megabytes per thread.
  private val builders = new ThreadLocal[java.lang.StringBuilder] {
    override def initialValue(): java.lang.StringBuilder = new java.lang.StringBuilder(8192)
  }
  private val MaxRetainedBuilder = 4 << 20

  def canonicalText(page: ParsedPage, tables: Vector[DetectedTable]): String = {
    // presize: blocks dominate; tables add a marker line + cell values.
    // Avoids the builder's growth-doubling copies on the serialize hot path.
    var est = 64
    page.textBlocks.foreach(b => est += b.length + 1)
    tables.foreach(dt => est += 64 + page.regions(dt.regionIdx).grid.size * 8)
    val sb = builders.get()
    sb.setLength(0)
    sb.ensureCapacity(est)
    page.textBlocks.foreach { b =>
      if (sb.length > 0) sb.append('\n')
      sb.append(b)
    }
    tables.foreach { dt =>
      val grid = page.regions(dt.regionIdx).grid
      if (sb.length > 0) sb.append('\n')
      appendTable(sb, grid, dt)
    }
    val out = sb.toString
    // trim AFTER use: an outlier page must not pin its giant buffer in the
    // ThreadLocal until the thread happens to serialize again
    if (sb.capacity > MaxRetainedBuilder)
      builders.set(new java.lang.StringBuilder(8192))
    out
  }

  private def appendTable(sb: java.lang.StringBuilder, grid: CellGrid, dt: DetectedTable): Unit = {
    val t = dt.hit
    sb.append("[table:").append(t.method)
      .append(" range=").append(t.span.a1)
      .append(" conf=").append(PyFloat.repr(t.confidence))
      .append(" headers=").append(if (t.hasHeaders) "1" else "0")
      .append(']')
    var firstDataRow = t.span.r0
    if (t.hasHeaders) {
      sb.append('\n')
      var i = 0
      while (i < t.headers.length) {
        if (i > 0) sb.append('\t')
        sb.append(t.headers(i))
        i += 1
      }
      firstDataRow = t.span.r0 + 1
    }
    var r = firstDataRow
    while (r <= t.span.r1) {
      sb.append('\n')
      var c = t.span.c0
      while (c <= t.span.c1) {
        if (c > t.span.c0) sb.append('\t')
        // span-append: a span-backed cell's value flows into the canonical
        // text without materializing a per-cell String — or a Cell object
        grid.appendValueAt(r, c, sb)
        c += 1
      }
      r += 1
    }
  }

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private val utf8Bufs = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  /** SHA-256 hex of the UTF-8 encoding of `s`, WITHOUT materializing the
    * byte array: chars are UTF-8-encoded into a reused per-thread chunk
    * buffer and fed to the digest incrementally. Bit-identical to
    * `digest(s.getBytes(UTF_8))` including the '?' replacement Java uses
    * for unpaired surrogates (the text SHA pins verify this byte-for-byte).
    */
  def sha256Hex(s: CharSequence): String = {
    val md = digests.get()
    md.reset()
    val buf = utf8Bufs.get()
    var bi = 0
    @inline def flush(): Unit = { if (bi > 0) { md.update(buf, 0, bi); bi = 0 } }
    @inline def putB(b: Int): Unit = {
      if (bi == buf.length) flush()
      buf(bi) = b.toByte
      bi += 1
    }
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) putB(c)
      else if (c < 0x800) { putB(0xC0 | (c >> 6)); putB(0x80 | (c & 0x3F)) }
      else if (Character.isHighSurrogate(c)) {
        if (i + 1 < n && Character.isLowSurrogate(s.charAt(i + 1))) {
          val cp = Character.toCodePoint(c, s.charAt(i + 1))
          i += 1
          putB(0xF0 | (cp >> 18)); putB(0x80 | ((cp >> 12) & 0x3F))
          putB(0x80 | ((cp >> 6) & 0x3F)); putB(0x80 | (cp & 0x3F))
        } else putB('?') // unpaired high surrogate: Java getBytes emits '?'
      } else if (Character.isLowSurrogate(c)) putB('?')
      else { putB(0xE0 | (c >> 12)); putB(0x80 | ((c >> 6) & 0x3F)); putB(0x80 | (c & 0x3F)) }
      i += 1
    }
    flush()
    val d = md.digest()
    val out = new Array[Char](d.length * 2)
    i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      out(i * 2) = HexChars(b >> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Payload content classifier — the in-kernel analogue of the reference's
    * format sniffing (utils/file_magic.py:247-338 content-analysis tier):
    * decide HTML vs plain/delimited text from the payload itself, never
    * from metadata.
    */
  def looksLikeHtml(s: String): Boolean = {
    val n = math.min(s.length, 4096)
    // allocation-free equivalent of substring(0,n).toLowerCase.contains(m):
    // the markers are ASCII-lowercase, so an ASCII case fold per char is
    // exact (no non-ASCII char full-lowercases into a contiguous marker)
    if (containsAsciiFold(s, n, "<!doctype") || containsAsciiFold(s, n, "<html") ||
        containsAsciiFold(s, n, "<body") || containsAsciiFold(s, n, "<table") ||
        containsAsciiFold(s, n, "<div") || containsAsciiFold(s, n, "<p>")) return true
    // generic: several tag-like openings
    var tags = 0
    var i = 0
    while (i < n - 1 && tags < 3) {
      if (s.charAt(i) == '<' && (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '/'))
        tags += 1
      i += 1
    }
    tags >= 3
  }

  private def containsAsciiFold(s: String, n: Int, marker: String): Boolean = {
    val ml = marker.length
    var i = 0
    val max = n - ml
    while (i <= max) {
      var j = 0
      var ok = true
      while (ok && j < ml) {
        var c = s.charAt(i + j)
        if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
        if (c != marker.charAt(j)) ok = false
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** Plain-text payload → page: delimited content becomes a grid region
    * (reference TextReader path), prose becomes text blocks.
    */
  def parsePlainText(text: String): ParsedPage = {
    graft.core.html.DelimitedText.detectFormat(text) match {
      case Some((delim, _)) =>
        val (g, kind) = graft.core.html.DelimitedText.parse(text, delim)
        if (g.hasData) ParsedPage(Vector.empty, Vector(GridRegion(g, kind, "text")), 0L)
        else ParsedPage(textBlocksOf(text), Vector.empty, 0L)
      case None => ParsedPage(textBlocksOf(text), Vector.empty, 0L)
    }
  }

  private def textBlocksOf(text: String): Vector[String] =
    text.split("\n\\s*\n").iterator.map(PageParser.normalizeWs).filter(_.nonEmpty).toVector

  /** End-to-end for a raw payload: sniff HTML vs text, parse, detect,
    * serialize.
    */
  def extractHtml(html: Array[Byte], config: DetectConfig = DetectConfig()): PageExtract = {
    // PDF payloads sniff on the RAW bytes (binary — the encoding chain
    // would mangle them) and route to the from-scratch PDF text parser;
    // its text blocks flow through the same canonical-text serializer,
    // so the downstream contract (text, sha, metrics) is format-blind.
    if (graft.core.pdf.PdfText.isPdf(html)) {
      val text = graft.core.pdf.PdfText.extractText(html)
      val blocks = text.split('\n').iterator.filter(_.nonEmpty).toVector
      val page = ParsedPage(blocks, Vector.empty,
        math.max(0L, html.length.toLong - blocks.iterator.map(_.length + 1).sum))
      return extract(page, config)
    }
    val decoded = graft.core.html.Encoding.decode(html)
    val page =
      if (looksLikeHtml(decoded)) PageParser.parse(decoded)
      else parsePlainText(decoded)
    extract(page, config)
  }
}
