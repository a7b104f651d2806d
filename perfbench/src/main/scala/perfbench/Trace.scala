package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.detect.{Cascade, DetectConfig, MetadataHints}
import graft.core.extract.{DetectedTable, Extractor, PageExtract, RegionHint, TableExtractor}
import graft.core.html.{Encoding, PageParser, ParsedPage}
import graft.core.pdf.PdfText
import graft.spark.{Extracted, HintOut, Page, Pipeline, SpanOut}

/** One task thread's spans and counters. Each thread writes only its own
  * instance; the benchmark reads them all after the job has ended.
  */
final class Acc {
  val ns = new Array[Long](Trace.Spans.length)
  val counts = new Array[Long](Trace.Counts.length)
  val hits = new Array[Long](Trace.Methods.length)
  var docNs = new Array[Long](4096)
  var docs = 0
  var allocB = 0L
  var cpuNs = 0L

  def clear(): Unit = {
    java.util.Arrays.fill(ns, 0L)
    java.util.Arrays.fill(counts, 0L)
    java.util.Arrays.fill(hits, 0L)
    docs = 0
    allocB = 0L
    cpuNs = 0L
  }

  def addDoc(nanos: Long, alloc: Long, cpu: Long): Unit = {
    if (docs == docNs.length) docNs = java.util.Arrays.copyOf(docNs, docs * 2)
    docNs(docs) = nanos
    docs += 1
    allocB += alloc
    cpuNs += cpu
  }
}

/** In-memory trace registry: spans and counters stay in per-thread
  * accumulators until the benchmark merges them after a traced rep.
  */
object Trace {
  val Spans: Array[String] = Array("pdf.sniff_s", "html.decode_s", "html.parse_s",
    "detect.cascade_s", "extract.hints_s", "extract.serialize_s")
  val Sniff = 0; val Decode = 1; val Parse = 2; val Detect = 3; val Hints = 4; val Serialize = 5

  val Counts: Array[String] = Array("html.cells", "html.bytes_stripped", "detect.regions",
    "detect.tables", "extract.text_bytes")
  val Cells = 0; val Stripped = 1; val Regions = 2; val Tables = 3; val TextBytes = 4

  val Methods: Array[String] = Array("ultra_fast", "simple_case_fast", "box_table_detection",
    "island_detection_fast", "structured_text_detection", "simple_case", "none")

  private val all = new ConcurrentLinkedQueue[Acc]()
  private val local = ThreadLocal.withInitial[Acc](() => {
    val a = new Acc
    all.add(a)
    a
  })

  def acc: Acc = local.get()

  def reset(): Unit = all.forEach(_.clear())

  /** Merged totals: span seconds, counters, hit counts, kernel latency
    * percentiles and allocation per doc.
    */
  def totals(): Map[String, Double] = {
    val ns = new Array[Long](Spans.length)
    val counts = new Array[Long](Counts.length)
    val hits = new Array[Long](Methods.length)
    val lat = Array.newBuilder[Long]
    var docs = 0L
    var alloc = 0L
    var cpu = 0L
    all.forEach { a =>
      Spans.indices.foreach(i => ns(i) += a.ns(i))
      Counts.indices.foreach(i => counts(i) += a.counts(i))
      Methods.indices.foreach(i => hits(i) += a.hits(i))
      lat ++= a.docNs.iterator.take(a.docs)
      docs += a.docs
      alloc += a.allocB
      cpu += a.cpuNs
    }
    val sorted = lat.result()
    java.util.Arrays.sort(sorted)
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt)) / 1e3
    Spans.indices.map(i => Spans(i) -> ns(i) / 1e9).toMap ++
      Counts.indices.map(i => Counts(i) -> counts(i).toDouble) ++
      Methods.indices.map(i => s"detect.hits.${Methods(i)}" -> hits(i).toDouble) ++
      Map("kernel.docs" -> docs.toDouble,
        "kernel.span_s" -> ns.sum / 1e9,
        "kernel.cpu_s" -> cpu / 1e9,
        "kernel.doc_p50_us" -> pct(0.50),
        "kernel.doc_p99_us" -> pct(0.99),
        "kernel.alloc_per_doc_b" -> (if (docs == 0) 0.0 else alloc.toDouble / docs))
  }
}

/** The extraction kernel recomposed from the core modules' public
  * functions, with a span around each call. It calls them in the order
  * `Extractor.extractHtml` does and mirrors `Pipeline.extract`'s Auto
  * partitioning and `Pipeline.extractOne`'s row shape, so its output rows
  * must equal the pipeline's (the workloads check this on every doc).
  */
object TracedKernel {

  private val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def extract(spark: SparkSession, pages: Dataset[Page],
      config: DetectConfig = DetectConfig()): Dataset[Extracted] = {
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val inputParts = pages.queryExecution.toRdd.getNumPartitions
    val balanced =
      if (inputParts < math.max(2, n / 2))
        Pipeline.withSkewKey(pages)
          .repartition(n, col("_host"), col("_salt"), col("_szbin"))
          .drop("_host", "_salt", "_szbin")
          .as[Page]
      else pages
    balanced.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map(p => extractOne(p, config, pid))
    }
  }

  def extractOne(p: Page, config: DetectConfig, pid: Int): Extracted = {
    val a = Trace.acc
    val a0 = tmx.getCurrentThreadAllocatedBytes
    val c0 = tmx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val out = try {
      if (p.html == null || p.html.length > config.maxHtmlBytes) failed(p, pid)
      else {
        val res = extractHtml(p.html, config, a)
        val spans = res.tables.map { dt =>
          SpanOut(dt.regionIdx, dt.origin, dt.hit.method, dt.hit.span.a1,
            dt.hit.span.r0, dt.hit.span.c0, dt.hit.span.r1, dt.hit.span.c1,
            dt.hit.confidence, dt.hit.hasHeaders, dt.hit.headers,
            dt.orientation, dt.headerRows, dt.extractHasHeaders, dt.tableType,
            dt.quality, dt.dataRows, dt.dataCols)
        }
        val hints = res.hints.map(h => HintOut(h.regionIdx, h.source, h.name, h.confidence))
        Extracted(p.url, p.lang, res.text, res.sha256, res.regions, spans.size,
          res.bytesStripped, parse_failed = false, pid, spans, hints)
      }
    } catch {
      case scala.util.control.NonFatal(_) => failed(p, pid)
    }
    a.addDoc(System.nanoTime() - t0, tmx.getCurrentThreadAllocatedBytes - a0,
      tmx.getCurrentThreadCpuTime - c0)
    out
  }

  private def failed(p: Page, pid: Int): Extracted =
    Extracted(p.url, p.lang, "", "", 0, 0, 0L, parse_failed = true, pid, Seq.empty, Seq.empty)

  def extractHtml(html: Array[Byte], config: DetectConfig, a: Acc): PageExtract = {
    var t = System.nanoTime()
    def lap(span: Int): Unit = {
      val now = System.nanoTime()
      a.ns(span) += now - t
      t = now
    }
    val pdf = PdfText.isPdf(html)
    lap(Trace.Sniff)
    val page =
      if (pdf) {
        val text = PdfText.extractText(html)
        val blocks = text.split('\n').iterator.filter(_.nonEmpty).toVector
        val pg = ParsedPage(blocks, Vector.empty,
          math.max(0L, html.length.toLong - blocks.iterator.map(_.length + 1).sum))
        lap(Trace.Parse)
        pg
      } else {
        val decoded = Encoding.decode(html)
        lap(Trace.Decode)
        val pg =
          if (Extractor.looksLikeHtml(decoded)) PageParser.parse(decoded)
          else Extractor.parsePlainText(decoded)
        lap(Trace.Parse)
        pg
      }
    a.counts(Trace.Stripped) += page.bytesStripped
    a.counts(Trace.Regions) += page.regions.size
    page.regions.foreach(r => a.counts(Trace.Cells) += r.grid.size)
    t = System.nanoTime()

    // Extractor.extract, span by span
    val detected = Vector.newBuilder[DetectedTable]
    val tableExtractor = if (config.extractTables) new TableExtractor() else null
    var regionIdx = 0
    page.regions.foreach { region =>
      val outcome = Cascade.detect(region.grid, region.kind, config)
      a.hits(Trace.Methods.indexOf(outcome.methodUsed)) += 1
      outcome.tables.take(config.maxTablesPerSheet).foreach { hit =>
        if (tableExtractor != null) {
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
    lap(Trace.Detect)
    val text = Extractor.canonicalText(page, tables)
    lap(Trace.Serialize)
    val hints = page.regions.iterator.zipWithIndex.flatMap { case (region, idx) =>
      MetadataHints.hints(region.meta).map(h => RegionHint(idx, h.source, h.name, h.confidence))
    }.toVector
    lap(Trace.Hints)
    val sha = Extractor.sha256Hex(text)
    lap(Trace.Serialize)
    a.counts(Trace.Tables) += tables.size
    a.counts(Trace.TextBytes) += utf8Length(text)
    PageExtract(text, sha, tables, page.regions.size, page.bytesStripped, hints)
  }

  private def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    n
  }
}
