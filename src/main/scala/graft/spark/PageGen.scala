package graft.spark

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic web-page corpus.
  *
  * Builds the benchmark/test input table of exactly the input_hint shape
  * from the testdata documents.parquet raw-text material. Every byte
  * is a pure function of (doc_id, text, lang): no wall clock, no JVM hash
  * order, a splitmix64 PRNG keyed by doc_id. Host skew is injected (3 hot
  * hosts carry ~30 % of pages) so the pipeline's salting has something real
  * to balance.
  */
object PageGen {

  final case class Doc(doc_id: Long, text: String, lang: String)

  def pages(spark: SparkSession, sfDir: String, factor: Int = 1,
      genParallelism: Int = 0): Dataset[Page] = {
    import spark.implicits._
    var docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "text", "lang")
      .as[Doc]
    // documents.parquet is one small file; repartition the (tiny) docs BEFORE
    // amplification/HTML synthesis so page generation itself parallelizes
    // instead of one task building the corpus serially — and so the
    // generated pages arrive at Pipeline.extract already well-split, which
    // lets its Auto skew mode skip the salted exchange of the (much heavier)
    // HTML payload entirely. Opt-in (genParallelism > 0): an unconditional
    // exchange here would cost the resumable-snapshot path its
    // one-input-scan property (PipelineSpec bounds records read on resume).
    if (genParallelism > 0) docs = docs.repartition(genParallelism)
    if (factor <= 1) docs.map(d => makePage(d.doc_id, d.text, d.lang))
    else docs.flatMap { d =>
      (0 until factor).iterator.map(i => makePage(d.doc_id * factor + i, d.text, d.lang))
    }
  }

  // ---- deterministic PRNG ----
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val r = nextLong() >>> 1
      (r % bound).toInt
    }
  }

  private val Products = Array("widget", "gadget", "sprocket", "gear", "flange",
    "bracket", "coupler", "washer", "bolt", "rivet")
  private val Cities = Array("Berlin", "Paris", "London", "Madrid", "Rome",
    "Vienna", "Prague", "Lisbon")
  private val Names = Array("Alice", "Bob", "Carol", "Dave", "Erin", "Frank",
    "Grace", "Heidi")

  def hostOf(docId: Long): String = {
    val h = (docId * 0x9E3779B97F4A7C15L >>> 33)
    // ~30% of pages land on 3 hot hosts; the rest spread over 97
    if (h % 10 < 3) s"host-${(h % 3) + 1}.example"
    else s"host-${(h % 97) + 10}.example"
  }

  def makePage(docId: Long, docText: String, lang: String): Page = {
    val rng = new Rng(docId * 1000003L + 17)
    val host = hostOf(docId)
    val url = s"https://$host/doc/$docId"
    val ts = new Timestamp(1735689600000L + docId * 37000L) // 2025-01-01 + 37s/doc

    val sb = new StringBuilder(8192)
    sb.append("<!DOCTYPE html><html><head><title>Doc ").append(docId)
      .append("</title><style>body{font:14px sans-serif}</style></head><body>")
    // boilerplate: nav link farm + site header (stripped by the classifier)
    sb.append("<nav><ul>")
    var i = 0
    while (i < 8) {
      sb.append("<li><a href=\"/sec/").append(i).append("\">Section ").append(i)
        .append("</a></li>")
      i += 1
    }
    sb.append("</ul></nav>")
    sb.append("<header><h1>Corpus mirror of document ").append(docId).append("</h1></header>")
    sb.append("<div class=\"ads\"><a href=\"/promo\">click here for offers</a> <a href=\"/deal\">today only deals</a></div>")

    sb.append("<main>")
    // main content paragraphs from the document material
    val paras = splitParas(docText)
    paras.foreach { p => sb.append("<p>").append(escape(p)).append("</p>") }

    // embedded tabular regions, variant keyed by doc_id
    // variant mix approximates the reference's observed method rates
    // (detection.py:99,149,170 — simple ~23%, island/multi-table ~74%):
    // 0-1 simple/dense fast path, 2-4 island path, 5 box path, 6-7 pre,
    // 8 plate, 9 prose-only
    val variant = (docId % 10).toInt
    variant match {
      case 0 => appendSimpleTable(sb, rng, 4 + rng.nextInt(6))
      case 1 => appendDenseTable(sb, rng, 30 + rng.nextInt(40), 8 + rng.nextInt(5))
      case 2 | 3 | 4 =>
        // one <table> with two islands separated by empty rows/cols →
        // island detection (flood fill + merge rules), the heavy path
        appendIslandsTable(sb, rng, 6 + rng.nextInt(12), 4 + rng.nextInt(4))
      case 5 =>
        // bordered table offset from A1 (empty leading row/col) → box path
        appendBoxTable(sb, rng, 5 + rng.nextInt(5))
      case 6 => appendPre(sb, rng, '\t', 8 + rng.nextInt(10))
      case 7 => appendPre(sb, rng, ',', 8 + rng.nextInt(10))
      case 8 => appendPlate96(sb, rng)
      case 9 => () // boilerplate + prose only
    }
    sb.append("</main>")
    sb.append("<footer><p>(c) example corp</p><a href=\"/tos\">terms</a> <a href=\"/privacy\">privacy</a></footer>")
    sb.append("</body></html>")

    Page(url, ts, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), docText, lang)
  }

  def splitParas(text: String): Seq[String] = {
    val t = if (text == null) "" else text
    val chunks = t.split("(?<=[.!?])\\s+").filter(_.trim.nonEmpty)
    // group sentences into paragraphs of up to 3
    chunks.grouped(3).map(_.mkString(" ")).take(6).toSeq
  }

  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def money(rng: Rng): String = {
    val cents = 100 + rng.nextInt(999900)
    s"${cents / 100}.${"%02d".format(cents % 100)}"
  }

  private def appendSimpleTable(sb: StringBuilder, rng: Rng, rows: Int): Unit = {
    // static metadata (no rng draws → cell values and text pins unchanged):
    // exercises the ExcelMetadataExtractor-analogue hint surface
    sb.append("<table class=\"data-table pricing\" summary=\"product pricing by city\">")
      .append("<caption>Sales overview</caption>")
      .append("<tr><th>Product</th><th>City</th><th>Quantity</th><th>Price</th></tr>")
    var r = 0
    while (r < rows) {
      sb.append("<tr><td>").append(Products(rng.nextInt(Products.length)))
        .append("</td><td>").append(Cities(rng.nextInt(Cities.length)))
        .append("</td><td>").append(2 + rng.nextInt(500))
        .append("</td><td>").append(money(rng))
        .append("</td></tr>")
      r += 1
    }
    sb.append("</table>")
  }

  private def appendDenseTable(sb: StringBuilder, rng: Rng, rows: Int, cols: Int): Unit = {
    sb.append("<table class=\"stats\"><tr>")
    var c = 0
    while (c < cols) { sb.append("<th>m").append(c).append("</th>"); c += 1 }
    sb.append("</tr>")
    var r = 0
    while (r < rows) {
      sb.append("<tr>")
      c = 0
      while (c < cols) {
        sb.append("<td>").append(rng.nextInt(100000)).append("</td>")
        c += 1
      }
      sb.append("</tr>")
      r += 1
    }
    sb.append("</table>")
  }

  /** Two data islands inside one table element, separated by empty rows and
    * offset columns → exercises flood fill, merge predicates and the
    * adaptive size filter (the reference's dominant path).
    */
  private def appendIslandsTable(sb: StringBuilder, rng: Rng, rows1: Int, rows2: Int): Unit = {
    val cols1 = 4
    val cols2 = 3
    val gapRows = 2 + rng.nextInt(2) // ≥2 empty rows → distinct islands
    val offset2 = cols1 + 2 // ≥2 empty columns → never merged
    val totalCols = offset2 + cols2
    sb.append("<table>")
    // island 1 header + data at (0,0)
    sb.append("<tr>")
    (0 until cols1).foreach(c => sb.append("<th>k").append(c).append("</th>"))
    (cols1 until totalCols).foreach(_ => sb.append("<td></td>"))
    sb.append("</tr>")
    (0 until rows1).foreach { _ =>
      sb.append("<tr>")
      (0 until cols1).foreach { c =>
        sb.append("<td>")
        if (c == 0) sb.append(Products(rng.nextInt(Products.length)))
        else sb.append(rng.nextInt(10000))
        sb.append("</td>")
      }
      (cols1 until totalCols).foreach(_ => sb.append("<td></td>"))
      sb.append("</tr>")
    }
    (0 until gapRows).foreach { _ =>
      sb.append("<tr>")
      (0 until totalCols).foreach(_ => sb.append("<td></td>"))
      sb.append("</tr>")
    }
    // island 2 at (rows1+1+gap, offset2)
    sb.append("<tr>")
    (0 until offset2).foreach(_ => sb.append("<td></td>"))
    (0 until cols2).foreach(c => sb.append("<th>m").append(c).append("</th>"))
    sb.append("</tr>")
    (0 until rows2).foreach { _ =>
      sb.append("<tr>")
      (0 until offset2).foreach(_ => sb.append("<td></td>"))
      (0 until cols2).foreach { c =>
        sb.append("<td>")
        if (c == 0) sb.append(Cities(rng.nextInt(Cities.length)))
        else sb.append(rng.nextInt(500))
        sb.append("</td>")
      }
      sb.append("</tr>")
    }
    sb.append("</table>")
  }

  private def appendBoxTable(sb: StringBuilder, rng: Rng, rows: Int): Unit = {
    sb.append("<table>")
    // leading empty row + column push the box off A1 so the simple-case
    // fast path declines and box detection does the work
    sb.append("<tr><td></td><td></td><td></td><td></td></tr>")
    sb.append("<tr><td></td>")
    Seq("Name", "Role", "Score").foreach { h =>
      sb.append("<th style=\"border: 1px solid black\">").append(h).append("</th>")
    }
    sb.append("</tr>")
    var r = 0
    while (r < rows) {
      sb.append("<tr><td></td>")
      sb.append("<td style=\"border: 1px solid black\">")
        .append(Names(rng.nextInt(Names.length))).append("</td>")
      sb.append("<td style=\"border: 1px solid black\">")
        .append(if (rng.nextInt(2) == 0) "analyst" else "engineer").append("</td>")
      sb.append("<td style=\"border: 1px solid black\">")
        .append(rng.nextInt(100)).append("</td>")
      sb.append("</tr>")
      r += 1
    }
    sb.append("</table>")
  }

  private def appendPre(sb: StringBuilder, rng: Rng, delim: Char, rows: Int): Unit = {
    sb.append("<pre>")
    sb.append(Seq("sample", "well", "value", "result").mkString(delim.toString)).append('\n')
    var r = 0
    while (r < rows) {
      sb.append(s"s$r").append(delim)
        .append(('A' + rng.nextInt(8)).toChar).append(1 + rng.nextInt(12)).append(delim)
        .append(rng.nextInt(4000)).append(delim)
        .append(if (rng.nextInt(5) == 0) "fail" else "pass")
        .append('\n')
      r += 1
    }
    sb.append("</pre>")
  }

  private def appendPlate96(sb: StringBuilder, rng: Rng): Unit = {
    sb.append("<pre>")
    sb.append("\t").append((1 to 12).mkString("\t")).append('\n')
    var r = 0
    while (r < 8) {
      sb.append(('A' + r).toChar)
      var c = 0
      while (c < 12) { sb.append('\t').append(rng.nextInt(90000)); c += 1 }
      sb.append('\n')
      r += 1
    }
    sb.append("</pre>")
  }
}
