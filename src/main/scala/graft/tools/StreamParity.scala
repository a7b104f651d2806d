package graft.tools

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Dedup
import graft.spark.StreamingPipeline

/** Corpus-scale parity check for the STREAMING near-dup operator: stream the
  * sf documents table through `StreamingPipeline.nearDupPairs` (file source,
  * several micro-batches, parquet sink + checkpoint) and compare the distinct
  * pair set against the batch `Dedup.minhashPairs` over the same corpus —
  * the unit test proves the semantics on a toy corpus; this proves them at
  * corpus scale with real micro-batch/state churn.
  *
  * Event times are synthesized from doc_id (one per minute) with a horizon
  * wide enough to hold the whole corpus, so batch and streaming see the
  * same pairable set. Usage: runMain graft.tools.StreamParity [sfDir]
  */
object StreamParity {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else ToolSession.sf("sf0.01")
    val spark = ToolSession()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        // deterministic event time: one doc per minute from a fixed epoch
        to_timestamp(lit("2025-01-01 00:00:00")).plus(
          expr("make_interval(0, 0, 0, 0, 0, doc_id, 0)")).as("warc_ts"))
    val nDocs = docs.count()
    // horizon must cover the whole synthetic time RANGE — derived from the
    // doc_id spread, not the row count (ids need not be contiguous)
    val idBounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val horizonMin = (idBounds.getLong(1) - idBounds.getLong(0)).toInt + 10

    val inDir = Files.createTempDirectory("sp_in").toString
    val outDir = Files.createTempDirectory("sp_out").toString
    val ckpt = Files.createTempDirectory("sp_ckpt").toString
    // 8 input files -> several micro-batches via maxFilesPerTrigger
    docs.repartition(8).write.mode("overwrite").parquet(inDir)

    val t0 = System.nanoTime()
    val src = spark.readStream
      .schema("doc_id LONG, text STRING, warc_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 2)
      .parquet(inDir)
    val q = StreamingPipeline.nearDupPairs(src, threshold = 0.5,
        horizonMinutes = horizonMin, bucketCap = 4096)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    val streamWall = (System.nanoTime() - t0) / 1e9

    val streamed = spark.read.parquet(outDir)
      .select(col("id_a"), col("id_b"), col("est_jaccard")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.minhashPairs(spark, spark.read.parquet(s"$sfDir/documents.parquet"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val ok = streamed == batch
    println(s"STREAMPARITY docs=$nDocs stream_pairs=${streamed.size} " +
      s"batch_pairs=${batch.size} equal=$ok wall=${f"$streamWall%.1f"}s")
    if (!ok) {
      println(s"STREAMPARITY only_stream=${(streamed -- batch).take(5)}")
      println(s"STREAMPARITY only_batch=${(batch -- streamed).take(5)}")
    }

    // ---- stream-static corpus dedup: stream even-id docs against the
    // static odd-id corpus, same file-source micro-batching; distinct
    // matches must equal the batch incremental operator's pairs ----
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val inDir2 = Files.createTempDirectory("sp_in2").toString
    val out2 = Files.createTempDirectory("sp_out2").toString
    val ckpt2 = Files.createTempDirectory("sp_ckpt2").toString
    // 16 input files at maxFilesPerTrigger=2 -> 8 micro-batches, enough to
    // trip the dedup-apply phase's segment-compaction bound several times
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .repartition(16).write.mode("overwrite").parquet(inDir2)
    val t1 = System.nanoTime()
    val src2 = spark.readStream
      .schema("doc_id LONG, text STRING, warc_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 2)
      .parquet(inDir2)
    val q2 = StreamingPipeline.corpusDedupMatches(src2, corpus, threshold = 0.5)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(300000)
    val csWall = (System.nanoTime() - t1) / 1e9
    val csStreamed = spark.read.parquet(out2)
      .select(col("corpus_id"), col("doc_id"), col("est_jaccard")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val csBatch = Dedup.minhashPairsIncremental(spark, corpus,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(pmod(col("doc_id"), lit(2)) === 0),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val csOk = csStreamed == csBatch
    println(s"STREAMPARITY corpus_matches stream=${csStreamed.size} " +
      s"batch=${csBatch.size} equal=$csOk wall=${f"$csWall%.1f"}s")
    if (!csOk) {
      println(s"STREAMPARITY only_stream=${(csStreamed -- csBatch).take(5)}")
      println(s"STREAMPARITY only_batch=${(csBatch -- csStreamed).take(5)}")
    }
    // ---- streaming dedup-APPLY: stream even-id docs through the persisted-
    // index ingest loop (multi-micro-batch), then replay the SAME fold with
    // the batch applyIncremental — survivors must match segment by segment,
    // and the grown index must hold corpus + survivors exactly ----
    import graft.ops.MinhashIndex
    val idxDir = Files.createTempDirectory("sp_idx").toString
    val out3 = Files.createTempDirectory("sp_out3").toString
    val ckpt3 = Files.createTempDirectory("sp_ckpt3").toString
    val t2 = System.nanoTime()
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), idxDir)
    val src3 = spark.readStream
      .schema("doc_id LONG, text STRING, warc_ts TIMESTAMP")
      .option("maxFilesPerTrigger", 2)
      .parquet(inDir2)
    val q3 = StreamingPipeline.dedupApplyStream(src3, idxDir, out3, ckpt3,
      threshold = 0.5, availableNow = true, maxSegments = 3)
    q3.awaitTermination(300000)
    val daWall = (System.nanoTime() - t2) / 1e9
    // enumerate micro-batch segments from the OUTPUT dir in batch order:
    // compaction rewrites the manifest's segment list (that is its job),
    // but the per-batch verdict/survivor dirs are the fold's ground truth
    val segs = {
      val ds = Files.list(java.nio.file.Paths.get(s"$out3/verdicts"))
      try ds.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch_")).toVector
        .sortBy(_.stripPrefix("batch_").toLong)
      finally ds.close()
    }
    val batchAll = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("text"))
    var grown = corpus.select(col("doc_id"), col("text"))
    var segOk = true
    var streamedKept = Set.empty[Long]
    for (seg <- segs) {
      val ids = spark.read.parquet(s"$out3/verdicts/$seg")
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val sub = batchAll.filter(col("doc_id").isin(ids.toSeq: _*))
      val keptIds = Dedup.applyIncremental(spark, grown, sub, threshold = 0.5)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val streamedSeg = spark.read.parquet(s"$out3/survivors/$seg")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      if (streamedSeg != keptIds) {
        segOk = false
        println(s"STREAMPARITY apply seg=$seg MISMATCH " +
          s"only_stream=${(streamedSeg -- keptIds).take(5)} " +
          s"only_batch=${(keptIds -- streamedSeg).take(5)}")
      }
      streamedKept ++= streamedSeg
      grown = grown.union(sub.filter(col("doc_id").isin(keptIds.toSeq: _*)))
    }
    // the grown index holds exactly corpus + streamed survivors (by id)
    val idxIds = MinhashIndex.load(spark, idxDir).sigs
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val corpusSigIds = Dedup.minhashIndex(spark, corpus).sigs
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // content-free kept docs have no signature and correctly stay out
    val batchSigIds = Dedup.minhashIndex(spark, batchAll).sigs
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val idxOk = idxIds == (corpusSigIds ++ streamedKept.intersect(batchSigIds))
    // compaction bound: 8 micro-batches at maxSegments=3 must end with a
    // bounded live-segment count (not base + one per batch), all batch
    // names on the absorbed record (replays stay no-ops), and no orphaned
    // data directories after the in-loop vacuums
    val meta = MinhashIndex.readMeta(idxDir)
    val liveSegs = meta.segments.size
    val absorbedOk = segs.forall(meta.committed.contains)
    val replayNoop = !StreamingPipeline.ingestMicroBatch(
      spark.read.parquet(inDir2).limit(2), idxDir, out3, segs.head,
      threshold = 0.5)
    val orphanDirs = {
      val ds = Files.list(java.nio.file.Paths.get(s"$idxDir/sigs"))
      try ds.iterator().asScala.map(_.getFileName.toString)
        .count(n => !meta.segments.contains(n))
      finally ds.close()
    }
    println(s"STREAMPARITY apply segments=${segs.size} kept=${streamedKept.size} " +
      s"seg_parity=$segOk index_ok=$idxOk live_segments=$liveSegs " +
      s"absorbed_ok=$absorbedOk replay_noop=$replayNoop orphan_dirs=$orphanDirs " +
      s"wall=${f"$daWall%.1f"}s")
    spark.stop()
    require(ok, "streaming pair set must equal the batch operator's")
    require(csOk, "stream-static matches must equal the batch incremental pairs")
    require(segOk, "streamed apply survivors must equal the batch-ingest fold replay")
    require(idxOk, "grown index must hold corpus + survivors exactly")
    require(liveSegs <= 4, s"compaction must bound live segments, got $liveSegs")
    require(absorbedOk && replayNoop,
      "every streamed batch must stay committed (replay = no-op) across compaction")
    require(orphanDirs == 0, "vacuum must leave no orphaned segment data")
  }
}
