package graft.spark

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.detect.DetectConfig
import graft.core.extract.Extractor

/** The extraction pipeline: Dataset[Page] → mapPartitions(kernel) →
  * Dataset[Extracted].
  *
  * Shuffle plan (SURVEY.md §4.3): exactly one exchange, placed BEFORE the
  * CPU-heavy parse, keyed on salted host ⊕ document-size bin so hot crawl
  * hosts and giant documents spread across executors. The kernel is
  * per-row sequential and per-document-bounded in memory; all downstream
  * stages are cheap relational ops Catalyst handles.
  */
object Pipeline {

  val SaltBuckets: Int = 8

  /** Salted repartitioning key: host ⊕ per-url salt ⊕ size bin. */
  def withSkewKey(pages: Dataset[Page]): DataFrame = {
    pages.toDF()
      .withColumn("_host", regexp_extract(col("url"), "://([^/]+)", 1))
      .withColumn("_salt", pmod(xxhash64(col("url")), lit(SaltBuckets)))
      .withColumn("_szbin", least(lit(3), floor(log2(length(col("html")) + 1) / 4)))
  }

  /** Extract every page into `numPartitions` (default: the session's
    * shuffle partitions) tasks' worth of work.
    *
    * Skew policy: shuffle on the salted key only when the input's own
    * partitioning is too coarse to feed the target parallelism (fewer than
    * max(2, n/2) partitions). When the input is a well-split table
    * (Iceberg/parquet scans bound bytes-per-task via maxPartitionBytes, and
    * P2 caps bytes-per-document), per-task parse work is already balanced
    * by construction and moving the payload through an exchange would only
    * add cost — at 100 TB that exchange IS the job. The decision rests on
    * what the plan shows (its partition count), not on a setting.
    */
  def extract(spark: SparkSession, pages: Dataset[Page],
      config: DetectConfig = DetectConfig(),
      numPartitions: Int = 0): Dataset[Extracted] = {
    import spark.implicits._
    val n =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // physical-plan partition count: queryExecution.toRdd reuses the already
    // analyzed plan instead of materializing a fresh deserializing RDD lineage
    val inputParts = pages.queryExecution.toRdd.getNumPartitions
    val balanced =
      if (inputParts < math.max(2, n / 2))
        withSkewKey(pages)
          .repartition(n, col("_host"), col("_salt"), col("_szbin"))
          .drop("_host", "_salt", "_szbin")
          .as[Page]
      else pages
    balanced.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map(p => extractOne(p, config, pid))
    }
  }

  /** Per-row kernel with error isolation (north rule: parse failures are
    * metrics rows, never task aborts — reference analogue gridgulp.py:412-429).
    */
  def extractOne(p: Page, config: DetectConfig, pid: Int): Extracted = {
    try {
      if (p.html == null || p.html.length > DetectConfig.MaxHtmlBytes)
        return Extracted(p.url, p.lang, "", "", 0, 0, 0L, parse_failed = true, pid,
          Seq.empty, Seq.empty)
      val res = Extractor.extractHtml(p.html, config)
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
    } catch {
      // NonFatal: parse failures become metric rows; OOM/interrupts propagate
      case scala.util.control.NonFatal(_) =>
        Extracted(p.url, p.lang, "", "", 0, 0, 0L, parse_failed = true, pid,
          Seq.empty, Seq.empty)
    }
  }

  /** Lineage/metrics rollup keyed by a STABLE url-hash bucket — a real
    * Catalyst hash aggregate over the already-extracted dataset (no extra
    * pass over the HTML). Keying by `pmod(xxhash64(url), buckets)` instead
    * of the physical partition id makes the rows independent of partition
    * count / scheduling, so the surface is reproducible across cluster
    * sizes (and oracle-checkable); the same bucketing keys the snapshot
    * manifests, so these rows align with resume lineage.
    */
  def metrics(extracted: Dataset[Extracted], buckets: Int = 32): DataFrame = {
    rollup(extracted, pmod(xxhash64(col("url")), lit(buckets)).cast("int").as("bucket"))
      .orderBy(col("bucket"))
  }

  /** The one extraction rollup: docs, tables, regions, stripped bytes and
    * parse failures per `keys` group (no keys: one corpus-level row).
    */
  private[graft] def rollup(extracted: Dataset[_], keys: Column*): DataFrame =
    extracted.groupBy(keys: _*).agg(
      count(lit(1)).as("docs"),
      sum(col("n_tables")).as("tables_found"),
      sum(col("n_regions")).as("regions_found"),
      sum(col("bytes_stripped")).as("bytes_stripped"),
      sum(when(col("parse_failed"), 1L).otherwise(0L)).as("parse_failures"))
}
