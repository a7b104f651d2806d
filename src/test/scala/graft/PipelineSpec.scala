package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{Page, PageGen, Pipeline, Snapshots}

/** Distributed-pipeline behaviour: determinism, error isolation, metrics,
  * skew keys, snapshot resume.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("extraction is deterministic and parse failures are isolated") {
    import spark.implicits._
    val pages = PageGen.pages(spark, sfDir)
    val a = Pipeline.extract(spark, pages).select("url", "text_sha256")
      .orderBy("url").collect().map(_.toString).toVector
    val b = Pipeline.extract(spark, pages).select("url", "text_sha256")
      .orderBy("url").collect().map(_.toString).toVector
    assert(a == b, "two runs over the same corpus must be byte-identical")
    assert(a.size == 500)

    val bad = Seq(
      Page("u:null", new java.sql.Timestamp(0), null, "", "en"),
      Page("u:garbage", new java.sql.Timestamp(0), Array.fill[Byte](64)(0x81.toByte), "", "en"),
      // gzip magic with no deflate body, and a table that never closes
      Page("u:gzip", new java.sql.Timestamp(0), Array[Byte](0x1f, 0x8b.toByte, 0, 0, 0), "", "en"),
      Page("u:unclosed", new java.sql.Timestamp(0), "<table><tr><td>unclosed".getBytes, "", "en")
    ).toDS()
    val out = Pipeline.extract(spark, bad).collect()
    assert(out.length == 4, "one output row per input page")
    // null html fails; the rest decode via fallback and parse leniently
    assert(out.filter(_.parse_failed).map(_.url).toSeq == Seq("u:null"))
  }

  test("metrics rollup accounts every doc exactly once") {
    val pages = PageGen.pages(spark, sfDir)
    val extracted = Pipeline.extract(spark, pages)
    val m = Pipeline.metrics(extracted).collect()
    assert(m.map(_.getLong(1)).sum == 500L)
    // columns: bucket, docs, tables_found, regions_found, bytes_stripped, parse_failures
    assert(m.map(_.getLong(5)).sum == 0L, "no parse failures in clean corpus")
    assert(m.length > 1, "docs must spread over multiple url-hash buckets")
    // the lineage rollup is partition-count-INDEPENDENT: same rows whether
    // the extraction ran on 1 partition or many (oracle-checkability)
    val coarse = Pipeline.metrics(
      Pipeline.extract(spark, pages.coalesce(1), skewMode = Pipeline.NoShuffle))
      .collect().map(_.toString).sorted
    assert(coarse.toSeq == m.map(_.toString).sorted.toSeq,
      "stable-bucket metrics must not depend on partitioning")
    // the physical per-partition counts account every doc too
    val pm = extracted.groupBy("partition_id").count().collect()
    assert(pm.map(_.getLong(1)).sum == 500L)
  }

  test("skew key spreads the hot hosts") {
    import org.apache.spark.sql.functions._
    val keyed = Pipeline.withSkewKey(PageGen.pages(spark, sfDir))
    val hotHostKeys = keyed.filter(col("_host") === "host-1.example")
      .select(col("_salt")).distinct().count()
    assert(hotHostKeys > 1, "hot host must fan out over multiple salt buckets")
  }

  test("pathological single-host corpus still balances across partitions") {
    import spark.implicits._
    // every page on ONE host: without salting this would land in one partition
    val pages = PageGen.pages(spark, sfDir)
      .map(p => p.copy(url = "https://megahost.example/" + p.url.split("/").last))
    val extracted = Pipeline.extract(spark, pages, numPartitions = 8)
    val perPartition = extracted.groupBy("partition_id").count().collect().map(_.getLong(1))
    assert(perPartition.length >= 4, s"expected fan-out, got ${perPartition.toVector}")
    val max = perPartition.max
    val total = perPartition.sum
    assert(total == 500L)
    assert(max <= total / 2, s"one partition holds $max of $total docs — salting failed")
  }

  test("snapshot run is resumable and equals a direct run") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap_spec").toString
    val pages = PageGen.pages(spark, sfDir)
    intercept[RuntimeException] {
      Snapshots.runResumable(spark, pages, dir, buckets = 4, failAfterBuckets = 2)
    }
    val afterCrash = Snapshots.readCurrent(dir).get
    assert(afterCrash.committed.size == 2)

    // resume must make exactly ONE pass over the input: total task input
    // records = 500 source docs + the (pruned) lineage read-back of the two
    // pending buckets' output (~250 rows). The old per-bucket loop read the
    // 500-doc input once PER BUCKET (>=1250 total); bound 1000 rejects it.
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val (processed, skipped) =
      try Snapshots.runResumable(spark, pages, dir, buckets = 4)
      finally {
        // listener bus is async; give it a bounded drain window
        val deadline = System.nanoTime() + 5000000000L
        var last = -1L
        while (System.nanoTime() < deadline && recordsRead.get() != last) {
          last = recordsRead.get(); Thread.sleep(200)
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(processed == 2 && skipped == 2)
    assert(recordsRead.get() <= 1000L,
      s"resume read ${recordsRead.get()} records — more than one input scan")

    val viaSnapshots = Snapshots.readTable(spark, dir).get
      .select("url", "text_sha256").orderBy("url").collect().map(_.toString).toVector
    val direct = Pipeline.extract(spark, pages)
      .select("url", "text_sha256").orderBy("url").collect().map(_.toString).toVector
    assert(viaSnapshots == direct, "snapshot-planned read must equal a direct run")

    // lineage table carries per-bucket rows
    val lineage = Snapshots.lineage(spark, dir).get.collect()
    assert(lineage.length == 4)
    assert(lineage.map(_.getLong(1)).sum == 500L)

    // time travel: the crash-time snapshot's immutable manifest survives
    // the resume
    assert(afterCrash.committed.size == 2)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_snapshots",
      s"snap-${afterCrash.snapshotId}.json")))
  }

  test("extraction output is invariant to partitioning and skew mode") {
    // the 100 TB contract: WHERE a row is processed must never change WHAT
    // is extracted — the shuffle decision is pure placement
    val pages = PageGen.pages(spark, sfDir)
    def run(mode: Pipeline.SkewMode, n: Int) =
      Pipeline.extract(spark, pages, numPartitions = n, skewMode = mode)
        .select("url", "text_sha256", "n_tables", "n_regions")
        .orderBy("url").collect().map(_.toString).toVector
    val a = run(Pipeline.NoShuffle, 4)
    val b = run(Pipeline.ForceShuffle, 16)
    val c = run(Pipeline.Auto, 32)
    assert(a == b, "NoShuffle(4) != ForceShuffle(16)")
    assert(b == c, "ForceShuffle(16) != Auto(32)")
  }

  test("config knobs are reachable end-to-end (min_table_size via env loading)") {
    import spark.implicits._
    import graft.core.detect.DetectConfig
    val fix = FixtureLoader.fixtures.find(_.name == "box_bordered").get
    val html =
      s"<html><body><p>intro prose for context</p>${FixtureLoader.renderHtml(fix)}</body></html>"
    val page = Seq(Page("u:cfg", new java.sql.Timestamp(0),
      html.getBytes("UTF-8"), "", "en")).toDS()
    val dflt = Pipeline.extract(spark, page).collect()(0)
    assert(dflt.spans.exists(_.method.startsWith("box_table")),
      s"default config should detect via the box path, got ${dflt.spans.map(_.method)}")
    val cfg = DetectConfig.fromEnv(
      Map("GRAFT_MIN_TABLE_ROWS" -> "9", "GRAFT_MIN_TABLE_COLS" -> "9").get)
    assert(cfg.minTableRows == 9 && cfg.minTableCols == 9)
    assert(cfg.confidenceThreshold == DetectConfig().confidenceThreshold,
      "unset env keys keep defaults")
    val strict = Pipeline.extract(spark, page, cfg).collect()(0)
    assert(!strict.spans.exists(_.method.startsWith("box_table")),
      s"a 9x9 minimum must reject the small box table, got ${strict.spans.map(_.method)}")
    // detection-disable knobs are reachable too
    val noIsland = DetectConfig.fromEnv(Map(
      "GRAFT_ENABLE_ISLAND_DETECTION" -> "false",
      "GRAFT_ENABLE_SIMPLE_CASE_DETECTION" -> "false").get)
    assert(!noIsland.enableIslandDetection && !noIsland.enableSimpleCase)
  }

  test("amplified corpus pages are unique and deterministic") {
    val p2 = PageGen.pages(spark, sfDir, factor = 2)
    assert(p2.count() == 1000)
    assert(p2.select("url").distinct().count() == 1000)
  }
}
