package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{Page, PageGen, Pipeline, StreamingPipeline}

/** Streaming variant: incremental file arrival → same kernel → parquet
  * sink; restart continues from the checkpoint without reprocessing.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("streaming extraction drains landed files and resumes incrementally") {
    val inputDir = Files.createTempDirectory("stream_in").toString
    val outputDir = Files.createTempDirectory("stream_out").toString
    val checkpointDir = Files.createTempDirectory("stream_ckpt").toString

    val pages = PageGen.pages(spark, sfDir).cache()
    // land the first half
    pages.filter(_.url.hashCode % 2 == 0).write.mode("append").parquet(inputDir)
    val q1 = StreamingPipeline.run(spark, inputDir, outputDir, checkpointDir,
      availableNow = true)
    q1.awaitTermination(120000)
    val afterFirst = spark.read.parquet(outputDir).count()
    assert(afterFirst > 0)

    // land the second half; a restarted query must process ONLY the new files
    pages.filter(_.url.hashCode % 2 != 0).write.mode("append").parquet(inputDir)
    val q2 = StreamingPipeline.run(spark, inputDir, outputDir, checkpointDir,
      availableNow = true)
    q2.awaitTermination(120000)

    val streamed = spark.read.parquet(outputDir)
      .select("url", "text_sha256").orderBy("url").collect().map(_.toString).toVector
    val batch = Pipeline.extract(spark, pages)
      .select("url", "text_sha256").orderBy("url").collect().map(_.toString).toVector
    assert(streamed.size == 500, s"expected 500 rows, got ${streamed.size} (no reprocessing)")
    assert(streamed == batch, "streaming output must equal the batch pipeline byte-for-byte")
    pages.unpersist()
  }

  private val T0 = 1735689600000L // 2025-01-01T00:00:00Z
  private def mkPage(host: String, minute: Int, n: Int = 0): Page =
    Page(s"https://$host/p$minute-$n", new Timestamp(T0 + minute * 60000L),
      ("<html><body><p>a reasonably long paragraph of page text here</p>" +
        "<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td></tr>" +
        "<tr><td>b</td><td>2</td></tr></table></body></html>").getBytes("UTF-8"),
      "", "en")

  test("watermarked windowed metrics emit closed windows once, matching batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Page]
    val q = StreamingPipeline.windowedMetrics(mem.toDS())
      .writeStream.format("memory").queryName("wm_out").outputMode("append").start()
    try {
      // hour-0: a.example x2 + b.example x1; hour-1: a.example x1
      mem.addData(mkPage("a.example", 5), mkPage("a.example", 20), mkPage("b.example", 30),
        mkPage("a.example", 70))
      q.processAllAvailable()
      // advance event time to 05:00 → watermark (2h) passes hours 0-2
      mem.addData(mkPage("late.example", 300))
      q.processAllAvailable()
      // watermark takes effect on the NEXT trigger
      mem.addData(mkPage("late.example", 360))
      q.processAllAvailable()
      val emitted = spark.sql(
        "SELECT window_start, host, docs, tables FROM wm_out ORDER BY window_start, host")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      val expected = Array(
        (T0, "a.example", 2L), (T0, "b.example", 1L), (T0 + 3600000L, "a.example", 1L))
      assert(emitted.toSeq == expected.toSeq, s"got ${emitted.toVector}")

      // batch oracle: the same code over the same rows as a static Dataset
      val batchRows = Seq(mkPage("a.example", 5), mkPage("a.example", 20),
        mkPage("b.example", 30), mkPage("a.example", 70)).toDS()
      val batch = StreamingPipeline.windowedMetrics(batchRows)
        .select("window_start", "host", "docs")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
      assert(emitted.toSet.subsetOf(batch), "streamed windows must equal the batch aggregate")
    } finally q.stop()
  }

  private def mkContentPage(host: String, minute: Int, content: String, n: Int = 0): Page =
    Page(s"https://$host/p$minute-$n", new Timestamp(T0 + minute * 60000L),
      (s"<html><body><p>the $content paragraph carries enough words to be kept" +
        s" as a real text block in extraction</p></body></html>").getBytes("UTF-8"),
      "", "en")

  test("streaming exact dedup keeps one arrival per text hash (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Page]
    val q = StreamingPipeline.dedupStream(mem.toDS())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      // alpha twice in the first batch + beta once
      mem.addData(mkContentPage("a.example", 0, "alpha"),
        mkContentPage("b.example", 1, "alpha", 1), mkContentPage("c.example", 2, "beta"))
      q.processAllAvailable()
      // another alpha inside the watermark horizon is dropped; gamma passes
      mem.addData(mkContentPage("d.example", 3, "alpha", 2),
        mkContentPage("e.example", 4, "gamma"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, text_sha256 FROM dedup_out").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.length == 3, s"one survivor per distinct text, got ${rows.toVector}")
      assert(rows.map(_._2).distinct.length == 3, "three distinct hashes")
      val urls = rows.map(_._1).toSet
      assert(urls.contains("https://c.example/p2-0") && urls.contains("https://e.example/p4-0"))
      assert(urls.exists(u => u.startsWith("https://a.example") || u.startsWith("https://b.example")))
      assert(!urls.contains("https://d.example/p3-0"), "in-watermark duplicate must be dropped")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions by gap and timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Page]
    val q = StreamingPipeline.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // a: one session 00:00-00:20 (3 docs); b: single-doc session at 00:00
      mem.addData(mkPage("a.example", 0), mkPage("a.example", 10, 1),
        mkPage("a.example", 20, 2), mkPage("b.example", 0))
      q.processAllAvailable()
      // a: second session at 02:00-02:05 → the 100-min gap closes session 1
      mem.addData(mkPage("a.example", 120), mkPage("a.example", 125, 1))
      q.processAllAvailable()
      // push the watermark far enough (06:00 - 2h = 04:00) to time out both
      // remaining sessions; timeouts fire on the trigger AFTER the watermark
      // advances
      mem.addData(mkPage("c.example", 360))
      q.processAllAvailable()
      mem.addData(mkPage("c.example", 361, 1))
      q.processAllAvailable()
      val sessions = spark.sql(
        "SELECT host, start, end, docs FROM sess_out ORDER BY host, start")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3)))
      val min = 60000L
      val expected = Seq(
        ("a.example", T0, T0 + 20 * min, 3L),
        ("a.example", T0 + 120 * min, T0 + 125 * min, 2L),
        ("b.example", T0, T0, 1L))
      assert(sessions.toSeq == expected, s"got ${sessions.toVector}")
    } finally q.stop()
  }

  // ---- streaming near-dup pairs (minhash-LSH over bounded bucket state) ----

  private def dupDoc(seed: Int, mutated: Boolean): String = {
    // ~40 words from a per-seed vocabulary; the mutated twin changes the
    // last two words — most 3-shingles shared, est_jaccard well above 0.5
    val words = (0 until 40).map(w => s"w${seed}_${w % 13}")
    val body = if (mutated) words.dropRight(2) ++ Seq("changed", "tail") else words
    body.mkString(" ")
  }

  test("streaming near-dup pairs equal the batch operator within the horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 12 base docs (distinct vocabularies — no cross-seed shingle overlap),
    // 6 of them with a near-identical twin at id+100
    val rows: Seq[(Long, Timestamp, String)] =
      (1 to 12).map(i => (i.toLong, new Timestamp(T0 + i * 60000L), dupDoc(i, false))) ++
        (1 to 6).map(i => (i + 100L, new Timestamp(T0 + (30 + i) * 60000L), dupDoc(i, true)))
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipeline.nearDupPairs(
        mem.toDS().toDF("doc_id", "warc_ts", "text"), threshold = 0.5)
      .writeStream.format("memory").queryName("ndp_out").outputMode("append").start()
    try {
      val (first, second) = rows.splitAt(rows.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
      // at-least-once across bands: distinct before comparing
      val got = spark.sql("SELECT id_a, id_b, est_jaccard FROM ndp_out").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.ops.Dedup.minhashPairs(spark,
          rows.toDF("doc_id", "warc_ts", "text"), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.size >= 6, s"batch must find the 6 planted twins, got $want")
      assert(got == want,
        s"streaming pair set must equal batch within the horizon\n got=$got\nwant=$want")
    } finally q.stop()
  }

  test("stream-static corpus matches equal the batch incremental pairs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static corpus = 12 originals; stream = 6 mutated twins (near-dup a
    // corpus doc) + 6 docs with fresh vocabularies (no corpus overlap)
    val corpusRows: Seq[(Long, Timestamp, String)] =
      (1 to 12).map(i => (i.toLong, new Timestamp(T0 + i * 60000L), dupDoc(i, false)))
    val streamRows: Seq[(Long, Timestamp, String)] =
      (1 to 6).map(i => (i + 100L, new Timestamp(T0 + (30 + i) * 60000L), dupDoc(i, true))) ++
        (7 to 12).map(i => (i + 100L, new Timestamp(T0 + (30 + i) * 60000L), dupDoc(i + 50, false)))
    val corpus = corpusRows.toDF("doc_id", "warc_ts", "text")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipeline.corpusDedupMatches(
        mem.toDS().toDF("doc_id", "warc_ts", "text"), corpus, threshold = 0.5)
      .writeStream.format("memory").queryName("csm_out").outputMode("append").start()
    try {
      val (first, second) = streamRows.splitAt(streamRows.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
      // at-least-once across bands: distinct before comparing
      val got = spark.sql("SELECT corpus_id, doc_id, est_jaccard FROM csm_out").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.ops.Dedup.minhashPairsIncremental(spark, corpus,
          streamRows.toDF("doc_id", "warc_ts", "text"), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.size == 6, s"batch must match exactly the 6 planted twins, got $want")
      assert(got == want,
        s"stream-static matches must equal the batch incremental pairs\n got=$got\nwant=$want")
    } finally q.stop()
  }

  test("near-dup bucket state expires past the horizon; cap keeps first arrivals") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60000L
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipeline.nearDupPairs(
        mem.toDS().toDF("doc_id", "warc_ts", "text"),
        threshold = 0.5, horizonMinutes = 120, bucketCap = 1)
      .writeStream.format("memory").queryName("ndp_exp").outputMode("append").start()
    try {
      // doc 1 at t=0 — its twin arrives 10h later, past the 2h horizon
      mem.addData((1L, new Timestamp(T0), dupDoc(1, false)))
      q.processAllAvailable()
      // unrelated doc advances the watermark to 600-120 = 480 min
      mem.addData((50L, new Timestamp(T0 + 600 * min), dupDoc(50, false)))
      q.processAllAvailable()
      // twin of doc 1 (cross-horizon: must NOT pair) + a fresh identical
      // triple (2,3,4): with bucketCap=1 only the first arrival (2) is the
      // exemplar, so exactly (2,3) and (2,4) pair — never (3,4)
      mem.addData(
        (101L, new Timestamp(T0 + 601 * min), dupDoc(1, false)),
        (2L, new Timestamp(T0 + 601 * min), dupDoc(7, false)),
        (3L, new Timestamp(T0 + 602 * min), dupDoc(7, false)),
        (4L, new Timestamp(T0 + 603 * min), dupDoc(7, false)))
      q.processAllAvailable()
      val got = spark.sql("SELECT id_a, id_b FROM ndp_exp").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 3L), (2L, 4L)),
        s"expected only first-exemplar pairs within the horizon, got $got")
    } finally q.stop()
  }

  test("near-dup bucket state survives a checkpointed restart") {
    import spark.implicits._
    // exemplars written before a stop must pair with arrivals after the
    // restart: the pair (i, i+100) crosses the restart boundary for every
    // planted twin, so losing state silently loses ALL of these pairs
    val inputDir = Files.createTempDirectory("ndp_in").toString
    val outDir = Files.createTempDirectory("ndp_out").toString
    val ckpt = Files.createTempDirectory("ndp_ckpt").toString
    val batch1: Seq[(Long, Timestamp, String)] =
      (1 to 8).map(i => (i.toLong, new Timestamp(T0 + i * 60000L), dupDoc(i, false)))
    val batch2: Seq[(Long, Timestamp, String)] =
      (1 to 4).map(i => (i + 100L, new Timestamp(T0 + (20 + i) * 60000L), dupDoc(i, true)))
    def run(): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, warc_ts TIMESTAMP, text STRING")
        .parquet(inputDir)
      val q = StreamingPipeline.nearDupPairs(src, threshold = 0.5)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    batch1.toDF("doc_id", "warc_ts", "text").write.mode("append").parquet(inputDir)
    run()
    batch2.toDF("doc_id", "warc_ts", "text").write.mode("append").parquet(inputDir)
    run()
    val got = spark.read.parquet(outDir).select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (1 to 4).map(i => (i.toLong, i + 100L)).toSet
    assert(got == expected,
      s"pairs crossing the restart must be found from recovered state, got $got")

    // restarting the same checkpoint with a different k changes the band
    // key space, so stored buckets are orphaned rather than re-read (the
    // stride `require` inside the operator guards the astronomically-rare
    // key collision): the restart must neither crash nor emit bogus pairs,
    // and a fresh identical pair under the new k must still be found
    val src2 = spark.readStream
      .schema("doc_id LONG, warc_ts TIMESTAMP, text STRING")
      .parquet(inputDir)
    Seq((900L, new Timestamp(T0 + 40 * 60000L), dupDoc(9, false)),
        (901L, new Timestamp(T0 + 41 * 60000L), dupDoc(9, false)))
      .toDF("doc_id", "warc_ts", "text").write.mode("append").parquet(inputDir)
    val q3 = StreamingPipeline.nearDupPairs(src2, k = 32, threshold = 0.5)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q3.awaitTermination(120000)
    val got2 = spark.read.parquet(outDir).select("id_a", "id_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == expected + ((900L, 901L)),
      s"k-changed restart must orphan old state cleanly and still pair fresh dups, got $got2")
  }

  private val tA = "the quick brown fox jumps over the lazy dog again"
  private val tB = "entirely different content about sailing ships across oceans"
  private val tC = "a third unrelated passage describing mountain weather patterns"

  test("streaming dedup-apply: one micro-batch equals batch applyIncremental") {
    import spark.implicits._
    import graft.ops.{Dedup, MinhashIndex}
    val corpus = Seq((1L, tA)).toDF("doc_id", "text")
    val batch = Seq((2L, tA), (4L, tB), (6L, tB), (8L, tB), (10L, tC))
      .toDF("doc_id", "text")
    val indexDir = Files.createTempDirectory("da_idx").toString
    val inDir = Files.createTempDirectory("da_in").toString
    val outDir = Files.createTempDirectory("da_out").toString
    val ckpt = Files.createTempDirectory("da_ckpt").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), indexDir)
    batch.coalesce(1).write.mode("append").parquet(inDir) // one file -> one micro-batch
    val src = spark.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
    val q = StreamingPipeline.dedupApplyStream(src, indexDir, outDir, ckpt,
      threshold = 0.8, availableNow = true)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$outDir/survivors/batch_0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = Dedup.applyIncremental(spark, corpus, batch, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == expect && streamed == Set(4L, 10L),
      s"one-micro-batch streamed survivors must equal applyIncremental: $streamed vs $expect")
    // verdicts partition the batch and name the match
    val verdicts = spark.read.parquet(s"$outDir/verdicts/batch_0")
      .collect().map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(verdicts == Map(
      2L -> ("dropped_corpus", 1L), 4L -> ("kept", -1L),
      6L -> ("dropped_batch", 4L), 8L -> ("dropped_batch", 4L),
      10L -> ("kept", -1L)))
    // the index grew by exactly the content-bearing survivors
    assert(MinhashIndex.load(spark, indexDir).sigs
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L, 10L))
  }

  test("streaming dedup-apply folds micro-batches like sequential daily ingests") {
    import spark.implicits._
    import graft.ops.{Dedup, MinhashIndex}
    val corpus = Seq((1L, tA)).toDF("doc_id", "text")
    val allBatch = Seq((2L, tA), (4L, tB), (6L, tB), (8L, tB), (10L, tC))
      .toDF("doc_id", "text")
    val indexDir = Files.createTempDirectory("daf_idx").toString
    val inDir = Files.createTempDirectory("daf_in").toString
    val outDir = Files.createTempDirectory("daf_out").toString
    val ckpt = Files.createTempDirectory("daf_ckpt").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), indexDir)
    // two landed files, one per micro-batch
    allBatch.filter(col("doc_id") <= 6).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100) // distinct mod times keep file-source ordering honest
    allBatch.filter(col("doc_id") > 6).coalesce(1).write.mode("append").parquet(inDir)
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingPipeline.dedupApplyStream(src, indexDir, outDir, ckpt,
      threshold = 0.8, availableNow = true)
    q.awaitTermination(120000)
    val segs = MinhashIndex.readMeta(indexDir).segments
    assert(segs.startsWith(Seq("base")) && segs.size == 3,
      s"expected base + two micro-batch segments, got $segs")
    // replay the SAME fold with the batch operator, using the observed
    // micro-batch membership (order-free: verdicts record who landed where)
    var grown = corpus
    var replayKept = Set.empty[Long]
    for (seg <- segs.drop(1)) {
      val ids = spark.read.parquet(s"$outDir/verdicts/$seg")
        .select("id").collect().map(_.getLong(0)).toSet
      val sub = allBatch.filter(col("doc_id").isin(ids.toSeq: _*))
      val kept = Dedup.applyIncremental(spark, grown, sub, threshold = 0.8)
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      val streamedSeg = spark.read.parquet(s"$outDir/survivors/$seg")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamedSeg == keptIds,
        s"segment $seg survivors must equal the batch-ingest replay: " +
          s"$streamedSeg vs $keptIds")
      replayKept ++= keptIds
      grown = grown.union(sub.filter(col("doc_id").isin(keptIds.toSeq: _*)))
    }
    assert(replayKept == Set(4L, 10L))
    // doc 8 arrived after survivor 4 joined the index: across micro-batches
    // it is a CORPUS match (first-arrival-wins), not an in-batch loser
    val v8 = spark.read.parquet(s"$outDir/verdicts/${segs.last}")
      .filter(col("id") === 8L).collect()
    if (v8.nonEmpty) // only when 8 landed in the second micro-batch
      assert(v8.head.getString(1) == "dropped_corpus" && v8.head.getLong(2) == 4L)
  }

  test("streaming contamination matches reproduce the batch screen exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.Dedup
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val evalSet = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, evalDoc), // identical: 7 shared 4-grams
      (2L, "prefix words then alpha beta gamma delta and a different tail"),
      (3L, "entirely unrelated content with no shared runs at all here"),
      (4L, "alpha beta gamma") // < n tokens
    )
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.contaminationMatches(
        mem.toDS().toDF("doc_id", "text"), evalSet, n = 4)
      .writeStream.format("memory").queryName("contam").outputMode("append").start()
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*) // second micro-batch
      q.processAllAvailable()
      // distinct match rows == the batch pre-aggregate join output, and
      // the sink-side aggregate reproduces shared_ngrams exactly
      val counts = spark.sql(
        """SELECT doc_id, eval_id, count(DISTINCT ngram) AS shared
          |FROM contam GROUP BY 1, 2""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dedup.ngramContamination(spark,
          arrivals.toDF("doc_id", "text"), evalSet, n = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(counts == batch && counts == Set((1L, 100L, 7L), (2L, 100L, 1L)),
        s"streamed screen must equal batch: $counts vs $batch")
    } finally q.stop()
  }

  test("streaming passage screen reproduces the batch incremental operator") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.Dedup
    val shared = "alpha beta gamma delta epsilon"
    val corpus = Seq((1L, s"c1 c2 $shared"), (3L, s"x $shared"))
      .toDF("doc_id", "text")
    val corpusFps = Dedup.passageFingerprints(corpus, w = 5)
    val arrivals = Seq(
      (10L, s"n1 n2 $shared n3"), // holds the corpus passage
      (12L, "fresh content with nothing shared at all present here"),
      (14L, s"$shared trailing words") // second micro-batch, also matches
    )
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.passageMatches(
        mem.toDS().toDF("doc_id", "text"), corpusFps, w = 5)
      .writeStream.format("memory").queryName("pscreen").outputMode("append").start()
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, pos, fp, corpus_id, corpus_pos FROM pscreen")
        .distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .toSet
      val batch = Dedup.passageMatchesAgainst(corpusFps,
          arrivals.toDF("doc_id", "text"), w = 5)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .toSet
      assert(streamed == batch && streamed.map(_._1) == Set(10L, 14L),
        s"streamed screen must equal batch: $streamed vs $batch")
    } finally q.stop()
  }

  test("gopher filter and pii scrub run unchanged on a stream (stateless)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.TextOps
    val passDoc = Seq.fill(10)("the cat and dog have fun with that toy to be of note")
      .mkString(" ")
    val arrivals = Seq(
      (1L, passDoc),
      (2L, "too short to pass"),
      (3L, s"$passDoc reach me at a@b.co from 10.0.0.1"))
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.piiMetrics(
        TextOps.gopherFilter(mem.toDS().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("gpii").outputMode("append").start()
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, n_emails, n_ips FROM gpii")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = TextOps.piiMetrics(
          TextOps.gopherFilter(arrivals.toDF("doc_id", "text")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      // doc 2 fails the word floor; docs 1 and 3 pass, doc 3 carries pii
      assert(streamed.map(_._1) == Set(1L, 3L))
      assert(streamed == batch,
        s"stateless ops must be batch-identical on a stream: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming passage apply folds micro-batches over the growing index") {
    import spark.implicits._
    import graft.ops.{Dedup, PassageIndex}
    val corpus = Seq((1L, "c1 c2 alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "n1 n2 alpha beta gamma delta epsilon p1 p2 p3 p4 p5"), // corpus passage + a NEW one
      (12L, "q1 alpha beta gamma delta epsilon")) // corpus passage only
    val b2 = Seq(
      (20L, "z1 p1 p2 p3 p4 p5 z2"), // matches batch-1's SURVIVING passage
      (22L, "fresh words entirely unlike anything else here")) // untouched
    val indexDir = Files.createTempDirectory("pas_idx").toString
    val inDir = Files.createTempDirectory("pas_in").toString
    val outDir = Files.createTempDirectory("pas_out").toString
    val ckpt = Files.createTempDirectory("pas_ckpt").toString
    PassageIndex.write(
      PassageIndex(Dedup.passageFingerprints(corpus, w = 5), 5), indexDir)
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingPipeline.passageApplyStream(src, indexDir, outDir, ckpt,
      availableNow = true)
    q.awaitTermination(120000)
    def seg(name: String) = spark.read.parquet(s"$outDir/rewritten/$name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch 0: the corpus-held passage excised from BOTH docs; doc 10's
    // fresh p-run survives and its fingerprints join the index
    assert(seg("batch_0") == Map(
      10L -> "n1 n2 p1 p2 p3 p4 p5", 12L -> "q1"))
    // batch 1: the p-run is now corpus-held (earlier-kept wins across
    // micro-batches) — excised from doc 20; clean doc byte-exact
    assert(seg("batch_1") == Map(
      20L -> "z1 z2", 22L -> "fresh words entirely unlike anything else here"))
    // the fold replay with the batch operators over the observed segments
    var grownFps = Dedup.passageFingerprints(corpus, w = 5)
    for ((rows, name) <- Seq(b1 -> "batch_0", b2 -> "batch_1")) {
      val expect = Dedup.stripDuplicatePassages(spark,
          Dedup.stripPassagesAgainst(grownFps, rows.toDF("doc_id", "text"), w = 5),
          w = 5)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(seg(name) == expect, s"$name must equal the batch composition")
      grownFps = grownFps.union(Dedup.passageFingerprints(
        expect.toSeq.toDF("doc_id", "text"), w = 5))
    }
    // the grown index holds corpus + rewritten fps exactly, and a segment
    // replay after the commit point is a no-op
    val idxRows = PassageIndex.load(spark, indexDir).fps
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expectRows = grownFps
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idxRows == expectRows)
    assert(!StreamingPipeline.ingestPassageMicroBatch(
      b1.toDF("doc_id", "text"), indexDir, outDir, "batch_0"))
  }

  test("C4 line cleaning runs unchanged on a stream (stateless)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.TextOps
    val arrivals = Seq(
      (1L, "A first good sentence with words.\nshort.\nAnother keeper sentence here!"),
      (2L, "lorem ipsum makes this page die.\nA fine sentence otherwise present."),
      (3L, "Enable javascript to continue now.\nOnly one surviving sentence here."))
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.c4Filter(mem.toDS().toDF("doc_id", "text"), minSentences = 1L)
      .writeStream.format("memory").queryName("c4s").outputMode("append").start()
    try {
      mem.addData(arrivals.take(1): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, text FROM c4s")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = TextOps.c4Filter(arrivals.toDF("doc_id", "text"), minSentences = 1L)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // doc 2 dies on the lorem gate; 1 and 3 pass with lines cleaned
      assert(streamed.map(_._1) == Set(1L, 3L))
      assert(streamed == batch,
        s"stateless ops must be batch-identical on a stream: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming line apply folds micro-batches over the growing index") {
    import spark.implicits._
    import graft.ops.{Dedup, LineIndex}
    val boiler = "Subscribe to our newsletter today!"
    val corpus = Seq((1L, s"corpus opening line.\n$boiler")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, s"$boiler\nNew promo line batch one!\nUnique ten."), // corpus line + a NEW shared line
      (12L, s"Unique twelve.\n$boiler")) // corpus line only
    val b2 = Seq(
      (20L, "New promo line batch one!\nUnique twenty."), // matches batch-1's SURVIVING line
      (22L, "Fresh line unlike anything.")) // untouched
    val indexDir = Files.createTempDirectory("ln_idx").toString
    val inDir = Files.createTempDirectory("ln_in").toString
    val outDir = Files.createTempDirectory("ln_out").toString
    val ckpt = Files.createTempDirectory("ln_ckpt").toString
    LineIndex.write(LineIndex(Dedup.lineFingerprints(corpus)), indexDir)
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingPipeline.lineApplyStream(src, indexDir, outDir, ckpt,
      availableNow = true)
    q.awaitTermination(120000)
    def seg(name: String) = spark.read.parquet(s"$outDir/rewritten/$name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch 0: the corpus-held boilerplate excised from BOTH docs; doc
    // 10's fresh promo line survives and its fingerprint joins the index
    assert(seg("batch_0") == Map(
      10L -> "New promo line batch one!\nUnique ten.", 12L -> "Unique twelve."))
    // batch 1: the promo line is now corpus-held (earlier-kept wins
    // across micro-batches); clean doc byte-exact
    assert(seg("batch_1") == Map(
      20L -> "Unique twenty.", 22L -> "Fresh line unlike anything."))
    // fold replay with the batch operators over the observed segments
    var grownFps = Dedup.lineFingerprints(corpus)
    for ((rows, name) <- Seq(b1 -> "batch_0", b2 -> "batch_1")) {
      val expect = Dedup.stripDuplicateLines(spark,
          Dedup.stripLinesAgainst(grownFps, rows.toDF("doc_id", "text")))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(seg(name) == expect, s"$name must equal the batch composition")
      grownFps = grownFps.union(Dedup.lineFingerprints(
        expect.toSeq.toDF("doc_id", "text")))
    }
    // grown index = corpus + rewritten fps exactly; post-commit replay no-op
    val idxRows = LineIndex.load(spark, indexDir).fps
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expectRows = grownFps
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idxRows == expectRows)
    assert(!StreamingPipeline.ingestLineMicroBatch(
      b1.toDF("doc_id", "text"), indexDir, outDir, "batch_0"))
    // the stateless match screen equals the batch incremental operator
    val matches = StreamingPipeline.lineMatches(
      b1.toDF("doc_id", "text"), Dedup.lineFingerprints(corpus))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batchMatches = Dedup.lineMatchesAgainst(
      Dedup.lineFingerprints(corpus), b1.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(matches == batchMatches && matches == Set((10L, 0), (12L, 1)))
  }

  test("streaming decontamination apply: kept set equals batch decontaminate") {
    import spark.implicits._
    import graft.ops.Dedup
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val evalSet = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val allDocs = Seq(
      (1L, evalDoc), // identical: flagged (7 shared 4-grams)
      (2L, "prefix words then alpha beta gamma delta and a different tail"), // flagged (1)
      (3L, "entirely unrelated content with no shared runs at all here"), // kept
      (4L, "alpha beta gamma"), // < n tokens: kept
      (5L, "second clean arrival with entirely fresh vocabulary throughout") // kept
    )
    val inDir = Files.createTempDirectory("dca_in").toString
    val outDir = Files.createTempDirectory("dca_out").toString
    val ckpt = Files.createTempDirectory("dca_ckpt").toString
    // two landed files -> two micro-batches
    allDocs.take(2).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    Thread.sleep(1100)
    allDocs.drop(2).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(inDir)
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingPipeline.decontaminateApplyStream(src, evalSet, outDir, ckpt,
      n = 4, availableNow = true)
    q.awaitTermination(120000)
    // kept union across segments == the batch decontaminate on all rows
    // (the screen is stateless across batches: verdicts are per-doc)
    val keptStreamed = spark.read.parquet(s"$outDir/kept/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptBatch = Dedup.decontaminate(spark, allDocs.toDF("doc_id", "text"),
        evalSet, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStreamed == keptBatch && keptStreamed == Set(3L, 4L, 5L))
    // verdicts carry the match evidence
    val verdicts = spark.read.parquet(s"$outDir/verdicts/*")
      .collect().map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(verdicts == Map(
      1L -> ("flagged", 100L, 7L),
      2L -> ("flagged", 100L, 1L),
      3L -> ("kept", -1L, -1L),
      4L -> ("kept", -1L, -1L),
      5L -> ("kept", -1L, -1L)))
  }

  test("ingest micro-batch commit is idempotent under segment replay") {
    import spark.implicits._
    import graft.ops.{Dedup, MinhashIndex}
    val corpus = Seq((1L, tA)).toDF("doc_id", "text")
    val batch = Seq((2L, tA), (4L, tB)).toDF("doc_id", "text")
    val indexDir = Files.createTempDirectory("dai_idx").toString
    val outDir = Files.createTempDirectory("dai_out").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), indexDir)
    assert(StreamingPipeline.ingestMicroBatch(batch, indexDir, outDir, "day_1",
      threshold = 0.8))
    val survivors = spark.read.parquet(s"$outDir/survivors/day_1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(4L))
    // replay after the commit point: MUST be a no-op — recomputing would
    // match the batch against its own survivors in the grown index
    assert(!StreamingPipeline.ingestMicroBatch(batch, indexDir, outDir, "day_1",
      threshold = 0.8))
    assert(spark.read.parquet(s"$outDir/survivors/day_1")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(4L))
    assert(MinhashIndex.readMeta(indexDir).segments == Seq("base", "day_1"))
    // a segment name escaping outDir is rejected before any write: no
    // directory appears or vanishes under the output sandbox or the index
    val sandbox = Files.createTempDirectory("dai_escape")
    val nestedOut = Files.createDirectories(sandbox.resolve("out")).toString
    def dirs(root: java.nio.file.Path) = {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isDirectory(_)).toSet finally w.close()
    }
    val (sandboxBefore, indexBefore) = (dirs(sandbox), dirs(Paths.get(indexDir)))
    intercept[IllegalArgumentException] {
      StreamingPipeline.ingestMicroBatch(batch, indexDir, nestedOut, "../../x",
        threshold = 0.8)
    }
    assert(dirs(sandbox) == sandboxBefore && dirs(Paths.get(indexDir)) == indexBefore)
  }

  test("near-dup pairs drop null event-time rows instead of wedging the query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.lang.Long, Timestamp, String)]
    val q = StreamingPipeline.nearDupPairs(
        mem.toDS().toDF("doc_id", "warc_ts", "text"), threshold = 0.5)
      .writeStream.format("memory").queryName("ndp_null").outputMode("append").start()
    try {
      // a null-ts twin of doc 1 must be ignored (it cannot participate in
      // an event-time-bounded operator); the valid twin still pairs
      mem.addData(
        (1L, new Timestamp(T0), dupDoc(3, false)),
        (2L, null, dupDoc(3, false)),
        (3L, new Timestamp(T0 + 60000L), dupDoc(3, false)))
      q.processAllAvailable()
      val got = spark.sql("SELECT id_a, id_b FROM ndp_null").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 3L)),
        s"null-ts row must be dropped, valid pair kept; got $got")
    } finally q.stop()
  }
}
