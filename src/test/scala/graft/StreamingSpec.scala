package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{PageGen, Pipeline, StreamingPipeline}

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

  test("pii scrub runs unchanged on a stream (stateless)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.TextOps
    val prose = Seq.fill(10)("the cat and dog have fun with that toy to be of note")
      .mkString(" ")
    val arrivals = Seq(
      (1L, prose),
      (2L, "a short doc"),
      (3L, s"$prose reach me at a@b.co from 10.0.0.1"))
    val mem = MemoryStream[(Long, String)]
    val q = TextOps.piiMetrics(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gpii").outputMode("append").start()
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, n_emails, n_ips FROM gpii")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = TextOps.piiMetrics(arrivals.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      // every doc passes through; only doc 3 carries pii
      assert(streamed == Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 1L, 1L)))
      assert(streamed == batch,
        s"stateless ops must be batch-identical on a stream: $streamed vs $batch")
    } finally q.stop()
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
    def cleaned(df: org.apache.spark.sql.DataFrame) =
      TextOps.c4Metrics(df, minSentences = 1L).filter(col("page_pass"))
        .select(col("doc_id"), col("text_clean").as("text"))
    val q = cleaned(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4s").outputMode("append").start()
    try {
      mem.addData(arrivals.take(1): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, text FROM c4s")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = cleaned(arrivals.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // doc 2 dies on the lorem gate; 1 and 3 pass with lines cleaned
      assert(streamed.map(_._1) == Set(1L, 3L))
      assert(streamed == batch,
        s"stateless ops must be batch-identical on a stream: $streamed vs $batch")
    } finally q.stop()
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
