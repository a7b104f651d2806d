package graft.spark

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.detect.DetectConfig
import graft.ops.{Dedup, Materialize, MinhashIndex, SegmentedManifest}

/** A streaming near-duplicate pair (event-time = the later arrival).
  * Emission is at-least-once: a pair colliding in several minhash bands is
  * emitted by each bucket — the downstream sink dedups (id_a, id_b) per
  * micro-batch / on read, the same idempotent-sink pattern the parquet
  * file sink already relies on for exactly-once.
  */
final case class NearDupPair(id_a: Long, id_b: Long, est_jaccard: Double, ts: Timestamp)

/** One banded-minhash row feeding the stateful bucket operator. */
final case class BandedDoc(id: Long, ts: Timestamp, sig: Array[Long], band: Int, bhash: Long)

/** Per-bucket exemplar buffer: parallel arrays, signatures flattened to
  * one n×k array (nested arrays kept out of the state encoder's hot path).
  */
final case class BucketState(ids: Array[Long], tsMs: Array[Long], flatSigs: Array[Long])

/** Structured Streaming variant of the extraction pipeline.
  *
  * The reference is strictly batch (SURVEY.md §2.9) and the north rule's
  * resumability is satisfied by snapshot-granular batch (Snapshots.scala);
  * this streaming surface exists for continuously landing crawl data:
  * `readStream` over the input table's directory → the same per-row kernel
  * (stateless, so no watermark is needed) → parquet sink with exactly-once
  * file-sink semantics via the checkpoint log. Restart-safety comes from
  * the sink's checkpoint, complementing the batch snapshot shim.
  */
object StreamingPipeline {

  /** Stream pages from a directory of parquet files as they land. */
  def readPages(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 8)
      : Dataset[Page] = {
    import spark.implicits._
    spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[Page]
  }

  /** The same kernel, applied to a streaming Dataset (stateless map — the
    * plan stays a streaming-compatible MapPartitions).
    */
  def extractStream(pages: Dataset[Page]): Dataset[Extracted] = {
    import pages.sparkSession.implicits._
    val config = DetectConfig()
    pages.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map(p => Pipeline.extractOne(p, config, pid))
    }
  }

  /** Streaming MinHash-LSH near-duplicate pairs — the streaming analogue of
    * [[graft.ops.Dedup.minhashPairs]] for continuously landing crawl data:
    * online near-dup detection against everything seen within the event-time
    * horizon, without re-scanning the corpus.
    *
    * Same pipeline semantics as batch, re-cut for unbounded input: the
    * native `minhashSig` / `minhashBandHashes` expressions run in the
    * stateless prefix (content-free docs dropped exactly like batch), and
    * the batch banded SELF-JOIN becomes a stateful per-(band, bandhash)
    * bucket: each bucket keeps up to `bucketCap` exemplar signatures within
    * the horizon, every new arrival is verified against them (slot-match
    * estimate from the FULL signatures — the same est_jaccard the batch
    * verify computes), and pairs at `threshold` or above are emitted with
    * `id_a < id_b`.
    *
    * Scale/state design (the parts that matter at crawl scale):
    *  - State is bounded by watermark eviction on BOTH axes: exemplars are
    *    pruned once they can no longer pair with any non-late arrival
    *    (`exemplar ts + horizon < watermark`), and a bucket's state times
    *    out (EventTimeTimeout) once its newest exemplar ages out. Per-bucket
    *    state is ≤ bucketCap × (16 + 8·k) bytes.
    *  - `bucketCap` is the batch operator's bucket-cap analogue: a giant
    *    clone class floods one bucket per band; capping bounds both state
    *    and per-arrival verify work at the cost of recall INSIDE the flood
    *    window (first-cap-wins, deterministic by event time then id).
    *    Exact-dup suppression belongs upstream of this.
    *  - Emission is at-least-once across bands (see [[NearDupPair]]);
    *    within a bucket a pair is emitted once.
    *  - The banded exchange carries the FULL signature with every band row
    *    (k·8 bytes × bands per doc) — unlike the batch operator's id-only
    *    exchange, because the stateful bucket must store exemplar
    *    signatures and verify arrivals in place; an id-keyed re-attach
    *    would need a second stateful join. The amplification is bounded by
    *    a micro-batch (not the corpus), and bulk dedup of accumulated data
    *    belongs to the batch operator anyway.
    *  - Rows with a NULL event time are dropped up front: they cannot
    *    participate in an event-time-bounded operator (they would NPE the
    *    state function and wedge the query on checkpoint replay).
    *  - Cross-horizon duplicates are out of scope by design — that is the
    *    batch `minhashPairs` pass over the accumulated snapshot.
    *
    * Restarting from a checkpoint with a DIFFERENT `k` fails loudly (the
    * stored signature stride no longer matches); a smaller `bucketCap`
    * keeps the first `bucketCap` stored exemplars.
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id", tsCol: String = "warc_ts",
      textCol: String = "text", k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8, horizonMinutes: Int = 120, bucketCap: Int = 64)
      : Dataset[NearDupPair] = {
    MinhashIndex.checkParams(k, bands)
    require(bucketCap > 0, "bucketCap > 0")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.DedupFunctions
    val horizonMs = horizonMinutes * 60000L

    val banded = docs
      .filter(col(tsCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        DedupFunctions.minhashSig(coalesce(col(textCol), lit("")), k, shingleN).as("sig"))
      .filter(size(col("sig")) > 0)
      .withWatermark("ts", s"$horizonMinutes minutes")
      .select(col("id"), col("ts"), col("sig"),
        posexplode(DedupFunctions.minhashBandHashes(col("sig"), bands)))
      .toDF("id", "ts", "sig", "band", "bhash")
      .as[BandedDoc]

    def update(key: (Int, Long), events: Iterator[BandedDoc],
        state: GroupState[BucketState]): Iterator[NearDupPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val wm = state.getCurrentWatermarkMs()
      // deterministic processing order regardless of shuffle arrival order
      val evs = events.toArray.sortBy(e => (e.ts.getTime, e.id))
      val stored = state.getOption
      stored.foreach { s =>
        // fail loudly on a checkpoint written with a different k — reading
        // misaligned signature slices would emit silently wrong estimates
        require(s.flatSigs.length == s.ids.length * k,
          s"near-dup checkpoint state has signature stride ${
            if (s.ids.length > 0) s.flatSigs.length / s.ids.length else 0
          }, operator has k=$k — restart with the original k")
      }
      // capacity: what this invocation can actually hold — not bucketCap
      // up front (at cap 4096 that is ~2 MB of transient arrays per key
      // per micro-batch regardless of occupancy)
      val capNow = math.min(bucketCap,
        stored.map(_.ids.length).getOrElse(0) + evs.length)
      var ids = new Array[Long](capNow)
      var tsMs = new Array[Long](capNow)
      var flat = new Array[Long](capNow * k)
      var n = 0
      stored.foreach { s =>
        // load exemplars, pruning any that can no longer pair with a
        // non-late arrival (every future event has ts >= watermark); a
        // restart with a SMALLER bucketCap keeps the first `bucketCap`
        // stored exemplars (same first-arrival-wins as the live cap)
        var i = 0
        while (i < s.ids.length && n < capNow) {
          if (s.tsMs(i) + horizonMs >= wm) {
            ids(n) = s.ids(i); tsMs(n) = s.tsMs(i)
            System.arraycopy(s.flatSigs, i * k, flat, n * k, k)
            n += 1
          }
          i += 1
        }
      }
      val out = Vector.newBuilder[NearDupPair]
      evs.foreach { e =>
        val eMs = e.ts.getTime
        var dup = false
        var i = 0
        while (i < n) {
          if (ids(i) == e.id) dup = true
          else if (math.abs(eMs - tsMs(i)) <= horizonMs) {
            var m = 0
            var j = 0
            val base = i * k
            while (j < k) { if (flat(base + j) == e.sig(j)) m += 1; j += 1 }
            val est = m.toDouble / k
            if (est >= threshold)
              out += NearDupPair(math.min(ids(i), e.id), math.max(ids(i), e.id), est,
                new Timestamp(math.max(eMs, tsMs(i))))
          }
          i += 1
        }
        if (!dup && n < capNow) { // capNow <= bucketCap: same cap semantics
          ids(n) = e.id; tsMs(n) = eMs
          System.arraycopy(e.sig, 0, flat, n * k, k)
          n += 1
        }
      }
      if (n > 0) {
        state.update(BucketState(java.util.Arrays.copyOf(ids, n),
          java.util.Arrays.copyOf(tsMs, n), java.util.Arrays.copyOf(flat, n * k)))
        var newest = Long.MinValue
        var i = 0
        while (i < n) { if (tsMs(i) > newest) newest = tsMs(i); i += 1 }
        // strictly after the newest exemplar ages out; always > watermark
        // because every retained exemplar satisfies tsMs + horizon >= wm
        state.setTimeoutTimestamp(newest + horizonMs + 1)
      } else state.remove()
      out.result().iterator
    }

    banded.groupByKey(d => (d.band, d.bhash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-static incremental near-dedup: near-dup matches between an
    * arriving doc stream and a STATIC corpus — the streaming face of
    * [[graft.ops.Dedup.minhashPairsIncremental]] (screen an incoming crawl
    * against what the corpus already holds, as it lands; [[nearDupPairs]]
    * covers stream-vs-stream within the horizon).
    *
    * Scale/state design:
    *  - The whole query is STATELESS: signatures + band hashes run in the
    *    stateless prefix and the candidate lookup is a stream-static INNER
    *    join on (band, bhash) — no watermark, no state store, nothing to
    *    expire. A stream-static join re-evaluates the static plan every
    *    micro-batch, so the corpus band index + signature set are
    *    materialized ONCE at query start (Materialize.iterative: the
    *    per-micro-batch re-read is the loop case, a Recompute no-op would
    *    re-run the corpus sig expressions per batch).
    *  - The persisted corpus artifact is scalar-only (id + band + 8-byte
    *    hash); corpus signatures attach by id for the verify, exactly as
    *    in the batch operator.
    *  - The arriving doc's signature rides its band rows into the join —
    *    bounded by the micro-batch, the same trade as [[nearDupPairs]].
    *  - Emission is AT-LEAST-ONCE per (doc, corpus doc) pair across bands
    *    (idempotent sink / downstream distinct dedups, as [[nearDupPairs]]).
    *
    * Emits (corpus_id, doc_id, est_jaccard, ts), append-only; distinct
    * rows equal the batch operator's pairs over the same inputs.
    */
  def corpusDedupMatches(docs: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", tsCol: String = "warc_ts", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    MinhashIndex.checkParams(k, bands)
    import graft.functions.DedupFunctions
    val cSigs = Materialize.iterative(
      corpus.select(col(idCol).cast("long").as("corpus_id"),
          DedupFunctions.minhashSig(coalesce(col(textCol), lit("")), k, shingleN)
            .as("corpus_sig"))
        .filter(size(col("corpus_sig")) > 0),
      Materialize.fromEnv)
    val cBand = Materialize.iterative(
      cSigs.select(col("corpus_id"),
          posexplode(DedupFunctions.minhashBandHashes(col("corpus_sig"), bands)))
        .toDF("corpus_id", "band", "bhash"),
      Materialize.fromEnv)
    val banded = docs
      .filter(col(tsCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        DedupFunctions.minhashSig(coalesce(col(textCol), lit("")), k, shingleN).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(DedupFunctions.minhashBandHashes(col("sig"), bands)))
      .toDF("doc_id", "ts", "sig", "band", "bhash")
    banded
      .join(cBand, Seq("band", "bhash"))
      // a doc re-arriving under its corpus id must not match itself
      .filter(col("corpus_id") =!= col("doc_id"))
      .join(cSigs, Seq("corpus_id"))
      .select(col("corpus_id"), col("doc_id"), col("ts"),
        Dedup.slotMatch(col("corpus_sig"), col("sig"), k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** One dedup-ingest micro-batch against the PERSISTED corpus index: the
    * unit of [[dedupApplyStream]], callable directly for scheduled (cron)
    * ingests. Runs [[graft.ops.Dedup.ingestIncremental]] against the index
    * at `indexDir`, writes per-doc verdicts and the surviving rows to
    * `outDir/{verdicts,survivors}/<segment>`, then appends the survivors'
    * signatures to the index. Returns false, touching nothing, when
    * `segment` is already committed.
    *
    * Crash/restart contract: the index append is the COMMIT POINT and runs
    * last. A replay before it recomputes against the unchanged index (the
    * pipeline is deterministic) and overwrites the same outputs; a replay after it is a no-op —
    * recomputing would match the batch against its own survivors in the
    * grown index. `segment` is checked before any write: it is a path
    * component under `outDir` as well as under the index.
    *
    * `maxSegments > 0` bounds the index's segment count by compact + vacuum
    * strictly AFTER the commit point, so replays stay no-ops (the absorbed
    * record) and a crash mid-compact leaves the old manifest readable.
    * SINGLE WRITER per index directory ([[graft.ops.SegmentedManifest]]):
    * scheduled callers must not overlap invocations on one index.
    */
  def ingestMicroBatch(batch: DataFrame, indexDir: String, outDir: String,
      segment: String, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bucketCap: Int = 65536,
      maxSegments: Int = 0): Boolean = {
    SegmentedManifest.checkSegmentName(segment)
    if (MinhashIndex.readMeta(indexDir).committed.contains(segment)) return false
    val spark = batch.sparkSession
    val res = Dedup.ingestIncremental(spark, MinhashIndex.load(spark, indexDir), batch,
      idCol, textCol, threshold, bucketCap)
    res.verdicts.write.mode("overwrite").parquet(s"$outDir/verdicts/$segment")
    res.survivors.write.mode("overwrite").parquet(s"$outDir/survivors/$segment")
    MinhashIndex.appendSegment(res.batchIndex, indexDir, segment)
    if (maxSegments > 0 && MinhashIndex.readMeta(indexDir).segments.size > maxSegments) {
      MinhashIndex.compact(spark, indexDir)
      MinhashIndex.vacuum(indexDir)
    }
    true
  }

  /** Streaming near-dedup APPLY — the kept/dropped verdict per arriving
    * doc ([[corpusDedupMatches]] stops at pairs): one [[ingestMicroBatch]]
    * per micro-batch, and the index GROWS with each batch's survivors, so
    * later arrivals dedup against everything kept before them —
    * corpus-match → dropped_corpus; in-stream near-dup → the component's
    * min-id arrival survives, the rest → dropped_batch.
    *
    * The survivor set is the left fold of
    * [[graft.ops.Dedup.applyIncremental]] over the micro-batch sequence
    * (micro-batch = ingest unit): component-min within a batch,
    * earlier-kept wins across batches. NO Spark state store: the state is
    * the persisted [[graft.ops.MinhashIndex]], shared with the batch
    * pipeline, and the segment commit makes a checkpoint replay idempotent.
    * `indexDir` must hold an initialized index (of the corpus, or of an
    * empty frame to start cold); `maxSegments` (default 16, 0 disables)
    * bounds its segment count.
    */
  def dedupApplyStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bucketCap: Int = 65536,
      availableNow: Boolean = false, maxSegments: Int = 16): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        ingestMicroBatch(b.toDF(), indexDir, outDir, s"batch_$id", idCol, textCol,
          threshold, bucketCap, maxSegments)
        () // a replayed, already-committed batch is a no-op either way
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Start the stream: parquet sink + checkpoint (exactly-once file sink).
    * availableNow=true drains what exists and stops (used by tests and
    * catch-up runs); otherwise runs continuously.
    */
  def run(spark: SparkSession, inputDir: String, outputDir: String, checkpointDir: String,
      availableNow: Boolean = false): StreamingQuery = {
    val extracted = extractStream(readPages(spark, inputDir))
    val writer = extracted.writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
