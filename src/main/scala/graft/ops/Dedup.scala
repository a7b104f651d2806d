package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, DedupKernels}

/** Deduplication operators for web-scale corpora.
  *
  * Scale notes (100 TB): every variant is a shuffle-on-key design with
  * map-side signature computation — no cross joins, no driver collects.
  * Candidate generation is always key-equality (band hash / chunk hash /
  * exact hash) so Catalyst plans plain hash-partitioned exchanges; pair
  * verification only touches candidate buckets.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per sha256(text). One shuffle. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    df.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Exact dedup APPLIED: the kept corpus (lowest id per text hash), via
    * `min(id) over (partition by hash)` — ONE hash-keyed shuffle, no join,
    * and crucially no broadcast of the (unbounded) duplicate-loser set.
    * Returns the input columns; the window input carries the hash instead
    * of the text so the exchange stays narrow.
    */
  def keepFirst(df: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text_hash"))
    df.withColumn("text_hash", sha2(col(textCol), 256))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("keep_id"))
      .drop("text_hash", "keep_id")
  }

  // ---- MinHash + LSH ----


  /** Word shingles (n-grams of whitespace tokens), lowercased under
    * `Locale.ROOT` (the JVM's default locale never moves a signature). A
    * text with no tokens (null / empty / whitespace-only) has NO shingles —
    * not one empty shingle — so content-free docs don't share a degenerate
    * shingle set (they would otherwise all minhash-collide into one band
    * bucket: an O(n²) pair bomb at corpus scale).
    */
  def shingles(text: String, n: Int): Iterator[String] = {
    if (text == null) return Iterator.empty
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length == 0) Iterator.empty
    else if (toks.length < n) Iterator.single(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" "))
  }

  /** [[shingles]]' tokenizer as a Column: `\s+` split, empty tokens
    * removed. `array_remove` is a codegen'd built-in; the equivalent
    * higher-order `filter(_, t => length(t) > 0)` is interpreted, so every
    * operator holding it fell out of whole-stage codegen and cut its stage
    * in two, each half a generated class of its own.
    */
  private[graft] def tokens(text: Column): Column = array_remove(split(text, "\\s+"), "")

  /** True iff `text` has a whitespace token, i.e. [[shingles]]' `\s+`
    * split leaves a non-empty one (lowercasing cannot change that): a
    * non-`\s` char exists. RLike still decodes every doc into a Java
    * String, but the match then stops at the first non-space char, where
    * `size(tokens(text)) > 0` split the whole doc into token strings.
    */
  private def hasTokens(text: Column): Column = coalesce(text, lit("")).rlike("\\S")

  /** Per-band FNV fold over a signature (the LSH banding hash).
    *
    * An EMPTY signature (content-free doc — see
    * [[graft.functions.DedupKernels.minhashSignature]]) yields
    * an empty band array: the doc simply lands in no bucket. Total at the
    * expression layer, so a caller that forgets the `size(sig) > 0`
    * pre-filter degrades to the same drop semantics instead of killing the
    * job on the first blank document. The require below still fails loudly
    * on the real programming error (length not a multiple of bands —
    * integer division would silently ignore trailing slots and weaken
    * recall).
    */
  def bandHashesOf(sig: Array[Long], bands: Int): Array[Long] = {
    if (sig.length == 0) return Array.emptyLongArray
    require(bands > 0 && sig.length % bands == 0,
      s"signature length ${sig.length} must be a positive multiple of bands=$bands")
    val rowsPerBand = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) {
        h = DedupKernels.mix64(h ^ sig(i))
        i += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Build a [[MinhashIndex]] for a corpus: map-side signatures
    * (materialized — see [[Materialize]]) and the banded candidate index
    * (derived per consumer from the signature checkpoint — see
    * [[indexFromSigs]]).
    *
    * Materialization: the signatures feed the banding and both verify
    * re-attach sides, and computing them is the expensive stage (tokenize
    * + shingle + k-permutation fold) — unmaterialized, that map work
    * re-runs per branch. Durability/cost policy is explicit — see
    * [[Materialize]].
    *
    * Content-free docs (null/empty/whitespace-only text) have an EMPTY
    * signature and are dropped before banding: they carry no content
    * signal, and as a shared-signature class they would all collide into
    * one band bucket — an O(n²) pair cross-product and a shuffle-skew
    * bomb at corpus scale.
    */
  def minhashIndex(spark: SparkSession, df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 64, bands: Int = 16, shingleN: Int = 3): MinhashIndex = {
    MinhashIndex.checkParams(k, bands, shingleN)
    val sigs = Materialize(df.select(col(idCol).cast("long").as("id"),
        DedupFunctions.minhashSig(coalesce(col(textCol), lit("")), k, shingleN).as("sig"))
      .filter(size(col("sig")) > 0))
    indexFromSigs(sigs, k, bands, shingleN)
  }

  /** Re-band a precomputed (id, sig) signature set — the cheap per-row fold,
    * NO tokenize/shingle pass. This is the signature-level entry that lets
    * [[applyIncrementalFromIndex]] reuse the batch signatures it already
    * computed instead of re-shingling the surviving docs from text.
    *
    * `banded` is deliberately NOT materialized (round 8): its consumers
    * (the oversized-bucket aggregate and the salted join side(s)) each
    * re-derive it as one scan of the ALREADY-materialized signature set
    * plus the 16-fold band hash — trivial map work, cheaper at every scale
    * than writing and re-reading a bands-amplified checkpoint (the fold is
    * ~1k ALU ops/doc; the checkpoint was bands × 20 B/doc of block-store
    * traffic plus one extra job per index build). The expensive stage
    * (tokenize + shingle + signature) stays materialized upstream in
    * `sigs`; persisted indexes still write banded rows once
    * ([[MinhashIndex.write]]) and load them as plain parquet scans.
    */
  def indexFromSigs(sigs: DataFrame, k: Int, bands: Int, shingleN: Int): MinhashIndex = {
    val banded = sigs.select(col("id"),
        posexplode(DedupFunctions.minhashBandHashes(col("sig"), bands)))
      .toDF("id", "band", "bhash")
    MinhashIndex(sigs, banded, k, bands, shingleN)
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * signatures (native Catalyst expression — whole-stage codegen, no
    * typed-map serde break) → posexplode into `bands` band hashes → id-only
    * self-join on the band hash (the banded exchange carries 20-byte rows,
    * NOT the 512-byte signature × bands) → pair distinct while still
    * id-only → signatures re-attach by two id-keyed joins against the
    * once-materialized signature set → slot-match estimate (native
    * codegen'd expression) → threshold. Signature bytes cross the wire
    * O(corpus + candidates) instead of O(corpus × bands) — the same
    * de-amplification as lshNearNeighbors, and the same `bucketCap` guard:
    * a giant exact-duplicate class (routine in crawl data) salts into
    * band-decorrelated sub-buckets instead of quadratic pair work.
    */
  def minhashPairs(spark: SparkSession, df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      threshold: Double = 0.8, bucketCap: Int = 65536): DataFrame = {
    checkBucketCap(bucketCap)
    minhashPairsOfIndex(
      minhashIndex(spark, df, idCol, textCol, k, bands, shingleN),
      threshold, bucketCap)
  }

  /** [[minhashPairs]] from a prebuilt (or [[MinhashIndex.load]]ed) index —
    * the signature-level self-join entry point.
    */
  def minhashPairsOfIndex(idx: MinhashIndex, threshold: Double = 0.8,
      bucketCap: Int = 65536): DataFrame = {
    checkBucketCap(bucketCap)
    bandJoinPairs(idx, idx, idx.banded, "id_a", "id_b", col("id_a") < col("id_b"),
      threshold, bucketCap)
  }

  /** The one bucket-cap guard of the LSH operators and of the composed
    * dedup operators built on them (keepFirstTwoPhase, the incremental
    * apply and ingest steps), run at their entry before any Spark job —
    * before a pre-pass or signature materialization, too: a cap of 0
    * divides by zero inside a job, a
    * negative one silently scatters every bucket across negative salts.
    */
  private[ops] def checkBucketCap(bucketCap: Int): Unit =
    require(bucketCap > 0, s"bucketCap > 0, got $bucketCap")

  /** The one bucket-cap salting of the LSH operators: distinct (`idA`,
    * `idB`) pairs passing `keep` whose (id, `table`, `bucket`) rows in
    * `left` and `right` share a salted bucket. A large exact-duplicate
    * class puts the WHOLE class in one bucket of every table (band) —
    * quadratic pair work — so buckets holding more than `bucketCap` rows of
    * `population` are counted, broadcast back and split into
    * nsplit = ceil(n/bucketCap) sub-buckets. The pair distinct runs while
    * still id-only (16 bytes/pair), so each pair is verified once.
    *
    * The salt hashes (id, `table`), NEVER id alone: an id-only salt splits
    * a class identically in every table and loses the same pairs in all of
    * them (measured with tools.OpsScale: only the within-salt half of a
    * planted 5000-identical cluster survived). Decorrelated, a class pair
    * survives with prob 1-((nsplit-1)/nsplit)^tables — near 1 only while
    * nsplit stays small; exact-dedup first for massive clone classes.
    */
  private[ops] def saltedPairs(population: DataFrame, left: DataFrame, right: DataFrame,
      table: String, bucket: String, idA: String, idB: String, keep: Column,
      bucketCap: Int): DataFrame = {
    val oversized = population.groupBy(col(table), col(bucket))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > bucketCap)
      .withColumn("nsplit", ceil(col("bn") / bucketCap).cast("int"))
      .select(col(table), col(bucket), col("nsplit"))
    def salted(rows: DataFrame, id: String) =
      rows.join(broadcast(oversized), Seq(table, bucket), "left")
        .withColumn("salt", when(col("nsplit").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("id"), col(table)), col("nsplit")).cast("int")))
        .select(col(table), col(bucket), col("salt"), col("id").as(id))
    salted(left, idA).join(salted(right, idB), Seq(table, bucket, "salt"))
      .filter(keep).select(col(idA), col(idB)).distinct()
  }

  /** The one MinHash slot-match estimate: the share of signature slots on
    * which `a` and `b` agree (a native codegen'd expression).
    */
  private[graft] def slotMatch(a: Column, b: Column, k: Int): Column =
    graft.functions.DedupFunctions.slotMatch(a, b, k)

  /** The one MinHash band-join body of the self-join (`a` = `b`) and the
    * corpus × batch join: salted band join, two id-keyed signature
    * re-attach joins, slot-match estimate, threshold. UNSORTED: its
    * consumers join it at once (a tail sort would be destroyed); surface
    * queries sort.
    */
  private def bandJoinPairs(a: MinhashIndex, b: MinhashIndex, population: DataFrame,
      idA: String, idB: String, keep: Column, threshold: Double,
      bucketCap: Int): DataFrame =
    saltedPairs(population, a.banded, b.banded, "band", "bhash", idA, idB, keep, bucketCap)
      .join(a.sigs.select(col("id").as(idA), col("sig").as("sig_a")), Seq(idA))
      .join(b.sigs.select(col("id").as(idB), col("sig").as("sig_b")), Seq(idB))
      .select(col(idA), col(idB),
        slotMatch(col("sig_a"), col("sig_b"), a.k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

  /** Incremental MinHash-LSH: near-dup pairs BETWEEN a new batch and an
    * existing corpus — the daily-ingestion shape of near-dedup. A combined
    * self-join over corpus ∪ batch would re-pair the corpus against itself
    * on every ingest (O(corpus²) candidate work per day for pairs that are
    * already known); this variant band-joins the batch's band index against
    * the corpus's, so per ingest the candidate work is O(batch × collision
    * rate). The corpus-side index is what a production pipeline PERSISTS
    * between runs ([[MinhashIndex.write]]/[[MinhashIndex.load]] +
    * [[minhashPairsBetween]]): corpus signatures are computed once, and
    * every subsequent ingest pays zero corpus-side map work — the corpus
    * side is a scalar parquet scan (id + band + 8-byte hash; no text, no
    * signatures on the candidate wire). This convenience overload builds
    * both indexes from text.
    *
    * Pair semantics are [[minhashPairs]] restricted to corpus×batch pairs:
    * candidates = any shared band bucket, verified with the same
    * slot-match estimate at `threshold` (pair verdicts are pairwise — they
    * never depend on other docs — so the restriction is exact). The
    * bucketCap guard salts on (id, band) as in the self-join; the
    * oversized count is taken over the COMBINED bucket population, and a
    * true cross pair splits apart with prob (nsplit-1)/nsplit per band —
    * the same 1-((ns-1)/ns)^bands exact-dup recall as the self-join cap.
    *
    * Returns (corpus_id, batch_id, est_jaccard). Ids must be globally
    * unique across both sides (one id space, as in a real corpus).
    */
  def minhashPairsIncremental(spark: SparkSession, corpus: DataFrame,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleN: Int = 3, threshold: Double = 0.8,
      bucketCap: Int = 65536): DataFrame = {
    checkBucketCap(bucketCap)
    minhashPairsBetween(
      minhashIndex(spark, corpus, idCol, textCol, k, bands, shingleN),
      minhashIndex(spark, batch, idCol, textCol, k, bands, shingleN),
      threshold, bucketCap)
  }

  /** [[minhashPairsIncremental]] from prebuilt indexes — the production
    * entry: `corpusIdx` is [[MinhashIndex.load]]ed from the persisted
    * artifact, so the ingest pays ZERO corpus-side map work (no tokenize,
    * no shingle, no signature — the corpus side is a parquet scan of
    * scalar rows). Returns (corpus_id, batch_id, est_jaccard), unsorted.
    */
  def minhashPairsBetween(corpusIdx: MinhashIndex, batchIdx: MinhashIndex,
      threshold: Double = 0.8, bucketCap: Int = 65536): DataFrame = {
    require(corpusIdx.k == batchIdx.k && corpusIdx.bands == batchIdx.bands &&
        corpusIdx.shingleN == batchIdx.shingleN,
      s"index parameter mismatch: corpus (k=${corpusIdx.k}, bands=${corpusIdx.bands}, " +
        s"shingleN=${corpusIdx.shingleN}) vs batch (k=${batchIdx.k}, " +
        s"bands=${batchIdx.bands}, shingleN=${batchIdx.shingleN})")
    checkBucketCap(bucketCap)
    // oversized buckets are counted over corpus ∪ batch; a doc resubmitted
    // under its corpus id must not pair with itself (a no-op for the
    // expected globally unique ids)
    bandJoinPairs(corpusIdx, batchIdx,
      corpusIdx.banded.select(col("band"), col("bhash"))
        .union(batchIdx.banded.select(col("band"), col("bhash"))),
      "corpus_id", "batch_id", col("corpus_id") =!= col("batch_id"), threshold, bucketCap)
  }

  /** Incremental near-dedup APPLIED: drop batch docs that near-dup the
    * existing corpus, then self-dedupe what remains within the batch
    * (min-id survivor per component, as [[keepFirstByPairs]]) — the full
    * daily-ingest step: what survives is exactly what joins the corpus.
    * Corpus docs are never re-examined.
    */
  def applyIncremental(spark: SparkSession, corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 64,
      bands: Int = 16, shingleN: Int = 3, threshold: Double = 0.8,
      bucketCap: Int = 65536): DataFrame = {
    checkBucketCap(bucketCap)
    applyIncrementalFromIndex(spark,
      minhashIndex(spark, corpus, idCol, textCol, k, bands, shingleN),
      batch, idCol, textCol, threshold, bucketCap)
  }

  /** [[applyIncremental]] against a prebuilt (usually [[MinhashIndex.load]]ed)
    * corpus index — the production daily-ingest entry: zero corpus-side map
    * work per ingest, and the batch is signatured exactly ONCE (the in-batch
    * self-dedup re-bands the already-computed batch signatures instead of
    * re-shingling the surviving docs from text).
    */
  def applyIncrementalFromIndex(spark: SparkSession, corpusIdx: MinhashIndex,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bucketCap: Int = 65536): DataFrame = {
    checkBucketCap(bucketCap)
    ingestIncremental(spark, corpusIdx, batch, idCol, textCol, threshold,
      bucketCap).survivors
  }

  /** One incremental-ingest step, with per-doc verdicts.
    *
    *  - `survivors`: the batch rows that join the corpus (applyIncremental's
    *    output — input columns preserved).
    *  - `verdicts`: one row per batch doc — (id, verdict, match_id) with
    *    verdict ∈ {kept, dropped_corpus, dropped_batch}: `dropped_corpus`
    *    carries the lowest matching corpus id, `dropped_batch` the
    *    component survivor kept in its place, `kept` a null match_id.
    *    Content-free docs are always kept (no signature, nothing to match).
    *  - `batchIndex`: the batch-side [[MinhashIndex]] restricted to the
    *    SURVIVORS — exactly the delta a production pipeline
    *    [[MinhashIndex.appendSegment]]s onto the corpus index after the
    *    ingest commits (signatures are reused, never recomputed).
    */
  final case class IngestResult(survivors: DataFrame, verdicts: DataFrame,
      batchIndex: MinhashIndex)

  def ingestIncremental(spark: SparkSession, corpusIdx: MinhashIndex,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bucketCap: Int = 65536): IngestResult = {
    checkBucketCap(bucketCap)
    // the batch is signatured ONCE, here; every later stage (cross verify,
    // in-batch self-dedup, the appendable survivor delta) reuses these sigs
    val bIdx = minhashIndex(spark, batch, idCol, textCol, corpusIdx.k,
      corpusIdx.bands, corpusIdx.shingleN)
    val cross = minhashPairsBetween(corpusIdx, bIdx, threshold, bucketCap)
    // materialized: the corpus-drop verdict set
    // feeds the remaining anti-join, the signature filter AND the verdict
    // union — left unmaterialized, each consumer re-runs the cross
    // band-join + verify, the ingest job's biggest shuffle (the r4-VERDICT
    // connectedComponents recompute class)
    val corpusDrops = Materialize(
      cross.groupBy(col("batch_id").as("_dup_id"))
        .agg(min(col("corpus_id")).as("_match_id")))
    val dropped = corpusDrops.select(col("_dup_id"))
    // NOT materialized (round 8): `remaining` has exactly one consumer (the
    // survivors anti-join below — remSigs restricts bIdx.sigs, not this),
    // and both its inputs are already materialized, so the lineage is one
    // batch scan + a cheap anti-join; the former checkpoint copied the full
    // batch TEXT into block storage for nothing (a round-5 leftover from a
    // shape where two consumers re-ran the cross band-join)
    val remaining = batch.join(dropped, batch(idCol) === col("_dup_id"), "left_anti")
    // in-batch self-dedup at the SIGNATURE level: restrict the batch index
    // to surviving docs (one id-keyed anti-join of 1-row-per-doc sigs) and
    // re-band — no second tokenize+shingle pass over the batch text
    val remSigs = bIdx.sigs.join(dropped, col("id") === col("_dup_id"), "left_anti")
    val remIdx = indexFromSigs(remSigs, bIdx.k, bIdx.bands, bIdx.shingleN)
    val inBatch = minhashPairsOfIndex(remIdx, threshold, bucketCap)
    val labels = connectedComponents(spark, inBatch)
    // NOT materialized (round 8): a filter+projection of the CC output,
    // which connectedComponents already materialized — each of the three
    // consumers re-runs only a narrow scan of that checkpoint, not the
    // in-batch pair pipeline
    val losers = labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("_loser_id"), col("cluster_id").as("_match_id"))
    val survivors = remaining.join(losers,
      remaining(idCol) === col("_loser_id"), "left_anti")
    val batchIds = batch.select(col(idCol).cast("long").as("id"))
    val verdicts = batchIds
      .join(corpusDrops, batchIds("id") === col("_dup_id"), "left")
      .join(losers.withColumnRenamed("_match_id", "_bmatch_id"),
        batchIds("id") === col("_loser_id"), "left")
      .select(col("id"),
        when(col("_dup_id").isNotNull, lit("dropped_corpus"))
          .when(col("_loser_id").isNotNull, lit("dropped_batch"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("_match_id"), col("_bmatch_id")).as("match_id"))
    // the appendable delta: survivors' signatures (kept content-free docs
    // have no signature and correctly stay out of the index). One id-keyed
    // anti-join of the 1-row-per-doc sigs, then the cheap band fold —
    // NOT a filter of the bands-amplified stream. Unmaterialized: the
    // delta has exactly one consumer (the appendSegment parquet write).
    val survivorSigs = remSigs.join(losers, col("id") === col("_loser_id"), "left_anti")
    IngestResult(survivors, verdicts,
      indexFromSigs(survivorSigs, bIdx.k, bIdx.bands, bIdx.shingleN))
  }

  // ---- SimHash ----

  /** SimHash near-dup pairs: block on 4×16-bit chunks (any pair within
    * hamming distance ≤3 shares at least one chunk — pigeonhole), verify
    * hamming distance within buckets.
    */
  def simhashPairs(spark: SparkSession, df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3): DataFrame = {
    // content-free docs (no whitespace tokens) all share simhash 0 — the
    // same O(n²) degenerate pair class as empty minhash shingles; drop them
    // before the signature (see hasTokens)
    // native Catalyst expression: the signature stage stays inside
    // whole-stage codegen (no Deserialize→map→Serialize break).
    // materialized: both self-join sides derive from it — without this the
    // per-doc simhash (a full token scan) computes twice
    val sigs = Materialize(
      df.filter(hasTokens(col(textCol))).select(col(idCol).cast("long").as("id"),
        graft.functions.DedupFunctions.simhash64(coalesce(col(textCol), lit("")))
          .as("sim")))

    val chunked = sigs.select(col("id"), col("sim"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"), (shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL)))
          .as("ckey"))
      }: _*)).as("ck"))
      .select(col("id"), col("sim"), col("ck.chunk"), col("ck.ckey"))

    val a = chunked.select(col("chunk"), col("ckey"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("id").as("id_b"), col("sim").as("sim_b"))
    // filter BEFORE distinct: the dedup exchange then carries only pairs at
    // hamming <= maxHamming instead of every candidate sharing a 16-bit
    // chunk (same final rows — hamming is a function of the pair)
    a.join(b, Seq("chunk", "ckey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // unsorted operator return (see minhashPairs)
  }

  /** Connected components over near-duplicate pair edges — the APPLY step
    * for near-dedup: pair lists (minhashPairs / simhashPairs / lshNearNeighbors)
    * become clusters, and `min(id)` per cluster is the canonical survivor
    * (the near-dup analogue of [[keepFirst]]'s exact-hash groups; near-dup
    * similarity is not transitive, so components — not pairs — are the
    * right dedup unit).
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`, with
    * cluster_id = min id of the component.
    *
    * Scale shape: iterative min-label propagation with POINTER JUMPING
    * (label(v) ← label(label(v)) each round), so convergence is
    * O(log diameter) rounds, not O(diameter) — and dup-cluster graphs are
    * near-cliques with tiny diameters, so this terminates in 2-3 rounds in
    * practice. Each round is two hash joins + a groupBy on id (plain
    * key-equality shuffles); labels are materialized per round
    * ([[Materialize]]) so lineage doesn't grow with iterations. The
    * converged check is one pass over the edges: done once both ends of
    * every edge carry the same label, so a graph of near-cliques stops
    * after its first round instead of running a second one to see no
    * label move.
    */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
      maxIter: Int = 25): DataFrame =
    connectedComponentsRounds(spark, pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of propagate+jump rounds it
    * took to converge — the observable for the O(log diameter) claim: a
    * D-hop path must converge in ~log2(D)+O(1) rounds, where min-label
    * propagation alone needs D.
    */
  def connectedComponentsRounds(spark: SparkSession, pairs: DataFrame,
      maxIter: Int = 25): (DataFrame, Int) = {
    // edges MUST be materialized: the incoming `pairs` is typically the tail
    // of the whole minhash/LSH candidate pipeline (banded self-join + pair
    // distinct + signature re-attach + verify — the job's biggest shuffle),
    // and the loop references edges once per round. Unmaterialized, every
    // round re-executes that entire pipeline — at 100 TB that is rounds ×
    // the largest shuffle in the job. The symmetrization is ONE explode of
    // a 2-struct array, not union(pairs, pairs.swapped): a union's two
    // branches are independent physical subtrees, so the (expensive,
    // unmaterialized) pair pipeline's post-exchange tail — candidate join,
    // pair distinct, both signature re-attach joins, the verify — would
    // execute TWICE inside this one materialization job (ReuseExchange
    // only dedups the exchanges themselves). Loop state is materialized
    // too: the checkpoint truncates lineage, where an un-truncated plan
    // would nest the pointer-jumping self-join's double reference each
    // round — lineage and recompute cost exponential in the iteration
    // count.
    val edges = Materialize(
      pairs.select(explode(array(
          struct(col("id_a"), col("id_b")),
          struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("_e"))
        .select(col("_e.id_a").as("id_a"), col("_e.id_b").as("id_b")))
    // fused round 0: labels start as the identity (label(v) = v), so the
    // first propagate is exactly min(v, min over neighbors u of u) — one
    // aggregate over the symmetric edge set (every node appears as id_b).
    // This replaces the identity-labels materialization plus round 0's
    // edges⋈labels join with a single groupBy, same labels by construction.
    var iter = 0
    var converged = false
    var labels: DataFrame = null
    while (!converged && iter < maxIter) {
      // 1) propagate: candidate label of v = min over neighbors' labels
      val prop =
        if (iter == 0)
          Materialize(
            edges.groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("nl"))
              .select(col("id"), least(col("id"), col("nl")).as("label")))
        else {
          val nbrMin = edges
            .join(labels.select(col("id").as("id_a"), col("label").as("la")), Seq("id_a"))
            .groupBy(col("id_b").as("id")).agg(min(col("la")).as("nl"))
          // materialized: the pointer-jumping self-join references prop
          // TWICE — without this each round runs the propagate join+groupBy
          // twice
          Materialize(
            labels.join(nbrMin, Seq("id"), "left")
              .select(col("id"),
                least(col("label"), coalesce(col("nl"), col("label"))).as("label")))
        }
      // 2) converged iff no edge joins two labels. Labels only fall, each
      //    to an id of the node's own component, and label(v) <= v; so a
      //    label that is constant on a component is that component's min
      //    id, and a further round would move nothing. One join pass over
      //    the edges, not the extra propagate + jump round it takes to
      //    watch no label move — and a converged labelling is its own
      //    pointer-jumping fixed point, so its jump is skipped: a graph of
      //    near-cliques finishes on round 0's aggregate.
      converged = edges
        .join(prop.select(col("id").as("id_a"), col("label").as("la")), Seq("id_a"))
        .join(prop.select(col("id").as("id_b"), col("label").as("lb")), Seq("id_b"))
        .filter(col("la") =!= col("lb"))
        .isEmpty
      // 3) pointer jumping: label(v) <- label(label(v)) (halves chains)
      labels =
        if (converged) prop
        else Materialize(
          prop.join(prop.select(col("id").as("label"), col("label").as("ll")),
              Seq("label"), "left")
            .select(col("id"), coalesce(col("ll"), col("label")).as("label")))
      iter += 1
    }
    // fail loudly, not silently-wrong cluster ids: practically unreachable
    // (pointer jumping converges in O(log diameter) rounds — maxIter=25
    // covers diameter ~2^25), but if a caller lowers maxIter below the
    // graph's need, returning non-converged labels would be a correctness
    // bug with no signal.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
          "raise maxIter (pointer jumping needs ~log2(diameter)+2 rounds)")
    // unsorted operator return: keepFirstByPairs/keepBestByPairs filter and
    // join the labels immediately — a tail sort here cost a range exchange
    // on every composed apply (surface queries add their own orderBy)
    (labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** Near-dedup APPLIED end to end: keep the min-id survivor of every
    * near-dup component plus all unpaired docs — the near-dup analogue of
    * [[keepFirst]]. The loser set rides a key-equality LEFT ANTI join
    * (never broadcast-forced: it is O(duplicates) and unbounded at corpus
    * scale; AQE may still choose broadcast when it measures small).
    */
  def keepFirstByPairs(spark: SparkSession, df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = componentLosers(spark, pairs).withColumnRenamed("id", "_loser_id")
    df.join(losers, df(idCol) === col("_loser_id"), "left_anti")
  }

  /** (id) of every paired node that is not its component's min id. */
  private def componentLosers(spark: SparkSession, pairs: DataFrame): DataFrame =
    connectedComponents(spark, pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))

  /** Near-dedup applied with a QUALITY-aware survivor: keep the
    * highest-`qualityCol` doc of every near-dup component (tie → lowest
    * id) plus all unpaired docs. This is what a training-data pipeline
    * actually wants from near-dedup — near-duplicates are rarely equal
    * (truncations, boilerplate-stripped variants, OCR passes), and
    * [[keepFirstByPairs]]' min-id survivor is an arbitrary draw among
    * them; keeping the longest/best-scored variant preserves content.
    *
    * Scale shape: identical to [[keepFirstByPairs]] plus one id-keyed
    * hash join fetching the quality column for the O(near-dup docs)
    * clustered subset — never the corpus — and a per-cluster row_number
    * window over that same subset. The loser set rides a left-anti key
    * join, never a forced broadcast.
    */
  def keepBestByPairs(spark: SparkSession, df: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", qualityCol: String = "n_chars"): DataFrame = {
    val labels = connectedComponents(spark, pairs)
    val withQ = labels.join(
      df.select(col(idCol).as("id"), col(qualityCol).as("_q")), Seq("id"))
    // explicit null ordering: a null quality must never beat a real one
    // (Spark's bare desc happens to be nulls-last, but engines differ —
    // the oracle's DuckDB DESC is also nulls-last; keep both explicit)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("_q").desc_nulls_last, col("id"))
    val losers = withQ.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col("id").as("_loser_id"))
    df.join(losers, df(idCol) === col("_loser_id"), "left_anti")
  }

  /** Near-dedup applied with an EXACT-DUP PRE-PASS: drop exact duplicates
    * (min-id survivor per sha256) first, then minhash near-dedup the
    * survivors — the composed pipeline the bucketCap scaladoc prescribes
    * for crawl corpora ("exact-dedup first for massive clone classes").
    *
    * Provably survivor-identical to
    * `keepFirstByPairs(df, minhashPairs(df))` while no bucket overflows the
    * cap: identical texts have identical signatures, so an exact-dup class
    * is a minhash clique at est_jaccard 1.0 ≥ threshold (thresholds are
    * ≤ 1), and dropping its non-min members neither changes any component's
    * min id (the exact pre-pass keeps exactly the min) nor disconnects
    * anything (every edge through a dropped member exists through its kept
    * exact-twin, whose signature — hence banding — is identical). The proof
    * needs one carve-out the pre-pass mirrors explicitly: CONTENT-FREE docs
    * (zero whitespace tokens — null/empty/whitespace-only text) are
    * excluded from the exact pre-pass, because minhash drops them before
    * banding (empty shingle set → no signature → unpaired → all kept by
    * keepFirstByPairs), while a sha256 window would group identical blank
    * texts — and sha2(null) nulls, grouping ALL null-text docs — and drop
    * their non-min members. Routine in real crawls (empty pages), so the
    * exclusion is the same `size(sig) > 0` semantics the banding applies
    * (OpsSpec pins the equivalence on a corpus with duplicated blank docs).
    * Under an OVERFLOWING cap the composed form is strictly better, which
    * is the point: a million-document clone class never reaches the banding
    * at all, so no oversized buckets, no salting recall loss
    * (1-((ns-1)/ns)^bands decays once nsplit grows), and the candidate
    * funnel shrinks by the full quadratic clone mass.
    *
    * Scale shape: the pre-pass is ONE narrow window shuffle keyed by the
    * text hash carrying (id, hash) only, and the materialized artifact is
    * the O(exact-duplicates) loser-id set — never the kept corpus (whose
    * text would otherwise sit in checkpoint storage); the kept corpus is
    * re-derived per consumer as a cheap anti-join off the base scan.
    */
  def keepFirstTwoPhase(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 64,
      bands: Int = 16, shingleN: Int = 3, threshold: Double = 0.8,
      bucketCap: Int = 65536): DataFrame = {
    MinhashIndex.checkParams(k, bands, shingleN)
    checkBucketCap(bucketCap)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_th"))
    // content-free docs never enter the pre-pass (see scaladoc): the
    // exact-hash analogue of the banding's size(sig) > 0
    val exactLosers = Materialize(
      df.filter(hasTokens(col(textCol)))
        .select(col(idCol).as("_xid"), sha2(col(textCol), 256).as("_th"))
        .withColumn("_keep", min(col("_xid")).over(w))
        .filter(col("_xid") =!= col("_keep"))
        .select(col("_xid")))
    val exactKept = df.join(exactLosers, df(idCol) === col("_xid"), "left_anti")
    val nearLosers = componentLosers(spark,
      minhashPairs(spark, exactKept, idCol, textCol, k, bands, shingleN,
        threshold, bucketCap))
    // ONE anti-join against both loser sets. Every consumer re-derives the
    // kept corpus from this plan, and with one anti-join per set the exact
    // losers' broadcast sat below the corpus side of the near-dup losers'
    // join: whether AQE shuffled the corpus then depended on which of the
    // two finished first, so the plan and its generated classes changed
    // from run to run.
    df.join(exactLosers.select(col("_xid").cast("long")).union(nearLosers),
      df(idCol) === col("_xid"), "left_anti")
  }

  /** Exact n-gram CONTAMINATION between a training corpus and an
    * evaluation set — the decontamination screen a training-data pipeline
    * runs before release (eval text leaking into training data inflates
    * benchmarks; the standard check is exact word-n-gram overlap, n ≈ 13
    * for published pipelines). A corpus doc is contaminated iff it shares
    * at least `minShared` DISTINCT word n-grams with an eval doc; docs
    * with fewer than n tokens have no n-gram and are never flagged.
    * Tokenization is [[shingles]]' (lowercase, \s+ split) without its
    * short-text fallback — contamination wants strict n-grams.
    *
    * Scale shape (100 TB corpus, benchmark-sized eval set): the eval
    * n-gram set is explicitly BROADCAST, so the corpus pays one map-side
    * scan (codegen'd split/transform/explode — no UDF, no custom
    * expression) into a broadcast hash join; corpus n-grams NEVER
    * shuffle. The only exchange is the count-distinct aggregate over
    * MATCHED rows — O(contamination), map-side partial-deduped. The
    * corpus side deliberately skips a per-doc distinct (that would be a
    * corpus-wide n-gram shuffle); distinctness is counted after the join
    * instead, where only matches remain.
    *
    * Returns (doc_id, eval_id, shared_ngrams), unsorted.
    */
  def ngramContamination(spark: SparkSession, corpus: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 13,
      minShared: Int = 1): DataFrame = {
    require(n > 0, "n > 0")
    require(minShared > 0, "minShared > 0")
    // the eval side fingerprints its n-grams the way the corpus side does
    // (no n-gram strings). Not deduped before the broadcast: an n-gram
    // repeated within one eval doc only repeats a match, which the
    // count-distinct absorbs, and a distinct here cost an exchange and two
    // more stages.
    contaminationProbe(corpus, ngramFps(evalSet, idCol, textCol, n, "eval_id"),
      idCol, textCol, n, minShared)
  }

  /** The corpus n-gram fingerprints into the broadcast (eval_id, fp) set,
    * counted per (doc, eval) pair.
    */
  private def contaminationProbe(corpus: DataFrame, evalFps: DataFrame, idCol: String,
      textCol: String, n: Int, minShared: Int): DataFrame =
    ngramFps(corpus, idCol, textCol, n, "doc_id")
      .join(broadcast(evalFps), Seq("fp"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(countDistinct(col("fp")).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)

  /** (outId, fp) per strict word n-gram of each doc: the [[PassageFps]]
    * window fingerprints at w = n, value-identical to `fingerprint64` of
    * each [[wordNgrams]] string (FunctionsSpec-pinned). One tokenization
    * per doc; docs with fewer than n tokens emit nothing. A 64-bit
    * collision between two distinct shared n-grams of one (doc, eval) pair
    * could lower shared_ngrams by one (~2⁻⁶⁴ per pair of shared n-grams);
    * the DuckDB oracle counts distinct n-gram STRINGS, and matches exactly
    * on the gate corpora.
    */
  private def ngramFps(df: DataFrame, idCol: String, textCol: String, n: Int,
      outId: String): DataFrame =
    df.select(col(idCol).cast("long").as(outId),
        tokens(lower(coalesce(col(textCol), lit("")))).as("toks"))
      .select(col(outId),
        explode(graft.functions.DedupFunctions.passageFps(col("toks"), n)).as("fp"))

  /** Strict word n-grams of a doc column as (outId, ngram) rows — one
    * map-side codegen'd projection (split/transform/slice/explode
    * built-ins, no UDF). Docs with fewer than n tokens emit nothing.
    * The n-gram strings of TextOps.ngramStats; the contamination screen
    * matches [[ngramFps]] instead.
    *
    * The short-doc guard is FOLDED INTO the projection
    * (`when(size(toks) >= n, transform(...)).otherwise(empty)`) instead of
    * a separate `.filter(size >= n)`: Catalyst pushes such a filter below
    * the toks projection, re-inlining the full split/filter lambda into the
    * Filter node — the corpus tokenization (the operator's only per-corpus
    * work) then evaluates TWICE per doc (round-6 verdict finding). With the
    * guard in-branch there is no Filter to push, and because `toks` is
    * non-trivial and referenced more than once, CollapseProject keeps the
    * two projections separate — ONE tokenization per doc in the plan
    * (PlanShapeSpec-pinned). The guard itself stays semantically required:
    * Spark's `sequence(0, negative)` is DESCENDING and would emit garbage
    * n-grams for short docs; `explode` of the empty otherwise-array emits
    * nothing, preserving the old filter's drop semantics exactly.
    */
  private[graft] def wordNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, outId: String): DataFrame = {
    require(n > 0, "n > 0")
    df.select(col(idCol).cast("long").as(outId),
        tokens(lower(coalesce(col(textCol), lit("")))).as("toks"))
      .select(col(outId),
        explode(
          when(size(col("toks")) >= n,
            transform(sequence(lit(0), size(col("toks")) - n),
              i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
            .otherwise(array().cast("array<string>"))).as("ngram"))
  }

  /** The decontaminated corpus: every doc flagged by
    * [[ngramContamination]] is dropped via a key-equality left-anti join
    * (the flagged set is O(contamination), never broadcast-forced).
    */
  def decontaminate(spark: SparkSession, corpus: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 13,
      minShared: Int = 1): DataFrame = {
    // materialized: the decontaminated corpus is typically
    // read twice downstream (the passage strip scans its input, then joins
    // it back), and every read would re-run the whole n-gram probe
    val flagged = Materialize(
      ngramContamination(spark, corpus, evalSet, idCol, textCol, n, minShared)
        .select(col("doc_id").as("_contam_id")).distinct())
    corpus.join(flagged, corpus(idCol) === col("_contam_id"), "left_anti")
  }

  // ---- cross-doc repeated-passage dedup ----

  /** Fingerprints of every `w`-token sliding window of every doc — the
    * PASSAGE-level identity the doc-level operators cannot see: boilerplate
    * paragraphs repeated across millions of pages survive doc-level
    * near-dedup because the surrounding page differs (the Lee et al.
    * "deduplicating training data" screen; published pipelines use ~50
    * tokens). Tokenization is the corpus-wide standard ([[shingles]]':
    * lower, \s+ split, non-empty), windows are STRIDE 1 (any stride s > 1
    * provably misses duplicated passages whose token offsets differ mod s),
    * and the fingerprint is the 64-bit polynomial [[TextOps.fingerprint]]
    * over the space-joined window — a native codegen expression, so the
    * whole projection is map-side Tungsten work. Docs with fewer than `w`
    * tokens emit nothing. Single tokenization per doc (the wordNgrams
    * guard-in-projection shape).
    *
    * Returns (doc_id, pos, fp) with pos = 0-based token offset.
    */
  def passageFingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 50): DataFrame = {
    require(w > 0, "w > 0")
    // round 8: the window fingerprints come from the native PassageFps
    // expression (per-token polynomial precompute + per-window fold of
    // precomputed pairs) — value-identical to
    // fingerprint64(concat_ws(" ", slice(toks, i+1, w))) per position
    // (PropertySpec-pinned; the short-doc guard lives inside the
    // expression: < w tokens → empty array, so posexplode emits nothing)
    // — instead of materializing every window's ~w-token string just to
    // hash it, which was the passage family's dominant map cost.
    df.select(col(idCol).cast("long").as("doc_id"),
        tokens(lower(coalesce(col(textCol), lit("")))).as("toks"))
      .select(col("doc_id"),
        posexplode(graft.functions.DedupFunctions.passageFps(col("toks"), w)))
      .toDF("doc_id", "pos", "fp")
  }

  /** Duplicated passages: every window whose fingerprint occurs at least
    * twice in the corpus (within OR across docs). Returns (doc_id, pos,
    * fp, n_occurrences), unsorted (operator contract — consumers join).
    *
    * Scale shape (100 TB): ONE hash exchange keyed by the fingerprint,
    * carrying (fp 8 B, doc_id 8 B, pos 4 B) per token — O(corpus tokens ×
    * 20 B) on the wire, which is the honest cost of stride-1 exact passage
    * detection (the suffix-array formulation is single-machine; windowed
    * fingerprints are its distributable equivalent). The window text
    * itself NEVER shuffles — only the 8-byte fingerprint — and the count
    * is a window aggregate over that one exchange (the q_dedup_keep
    * shape: no second join, no broadcast of an unbounded set). Run it
    * AFTER doc-level dedup so exact-duplicate documents don't multiply
    * the token stream.
    */
  def duplicatePassages(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 50): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    passageFingerprints(df, idCol, textCol, w)
      .withColumn("n_occurrences", count(lit(1)).over(byFp))
      .filter(col("n_occurrences") >= 2)
  }

  /** Repeated-passage dedup APPLIED at doc granularity: for every
    * duplicated fingerprint the CANONICAL occurrence is the lexicographic
    * min (doc_id, pos); a doc owning at least `minDupWindows`
    * non-canonical occurrences is dropped. Keep-first semantics at the
    * passage level — the doc holding a passage's first occurrence
    * survives, later docs built from already-seen passages go (a doc
    * repeating its OWN passage counts too: its first occurrence is the
    * canonical one, the repeats are non-canonical — self-boilerplate is
    * exactly what the repetition literature screens). Passage-level text
    * REWRITING (excising the repeated span) is deliberately not this
    * operator: it changes document bytes, which belongs to a transform
    * stage, not a filter.
    *
    * Scale: the fingerprint exchange of [[passageFingerprints]] plus a
    * row_number within the fp hash partitions (sort is within-partition,
    * no range exchange), one O(duplicated windows) doc-keyed aggregate,
    * and a key-equality left-anti join (never broadcast-forced).
    */
  def dropPassageDups(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 50,
      minDupWindows: Long = 1L): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
    val losers = passageFingerprints(df, idCol, textCol, w)
      .withColumn("_rk", row_number().over(byFp))
      .filter(col("_rk") > 1) // rk > 1 implies the fp occurs >= 2 times
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_ndup"))
      .filter(col("_ndup") >= minDupWindows)
      .select(col("doc_id").as("_pl_id"))
    df.join(losers, df(idCol) === col("_pl_id"), "left_anti")
  }

  /** Repeated-passage dedup applied as a TRANSFORM — the Lee et al.
    * semantics proper: the tokens of every NON-CANONICAL duplicated window
    * are EXCISED from their doc (the canonical occurrence — lexicographic
    * min (doc_id, pos) — survives verbatim in its own doc), instead of
    * [[dropPassageDups]]' whole-doc drop. Docs with no duplicated window
    * keep their text BYTE-EXACT; rewritten docs are rebuilt from their
    * surviving case-preserving tokens joined by single spaces (whitespace
    * normalization is inherent to a token-level rewrite — this is a
    * transform stage, documented as such). The fingerprint matching is
    * case-insensitive ([[passageFingerprints]] lowercases), but
    * lowercasing never changes token boundaries, so the lowered window
    * positions index the raw tokens exactly.
    *
    * Scale shape: the [[passageFingerprints]] exchange + row_number as in
    * [[dropPassageDups]], then the covered-index set — O(duplicated
    * windows × w) ints, deduped and folded to ONE sorted int array per
    * rewritten doc — rides a key-equality left join back to the corpus;
    * the rebuild is one map-side pass over the doc's tokens (the native
    * `graft_excise_tokens`: O(tokens + covered)). Corpus text never
    * shuffles while the covered set broadcasts.
    *
    * Returns df's columns with `textCol` replaced.
    */
  def stripDuplicatePassages(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 50): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
    val nonCanonical = passageFingerprints(df, idCol, textCol, w)
      .withColumn("_rk", row_number().over(byFp))
      .filter(col("_rk") > 1)
      .select(col("doc_id"), col("pos"))
    exciseWindows(df, nonCanonical, idCol, textCol, w)
  }

  /** Excise the `w`-token windows listed in `windows` (doc_id, pos) from
    * `df`: covered-index union folded to one sorted int array per
    * rewritten doc, key-equality join, map-side rebuild from the raw
    * case-preserving tokens (see [[stripDuplicatePassages]]'s contract:
    * untouched docs byte-exact, rewritten docs single-space rebuilt).
    */
  private def exciseWindows(df: DataFrame, windows: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = {
    val covered = windows
      .select(col("doc_id").as("_strip_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("_ti"))
      .distinct()
      .groupBy(col("_strip_id"))
      .agg(sort_array(collect_set(col("_ti"))).as("_cov"))
    df.join(covered, df(idCol) === col("_strip_id"), "left")
      .withColumn(textCol,
        when(col("_cov").isNull, col(textCol))
          .otherwise(graft.functions.DedupFunctions.exciseTokens(
            tokens(coalesce(col(textCol), lit(""))), col("_cov"))))
      .drop("_strip_id", "_cov")
  }

  /** One row per DISTINCT fingerprint of a (doc_id, pos, fp) window set,
    * carrying its canonical (lexicographic-min) occurrence — the compacted
    * corpus-side artifact for the incremental passage screen: a
    * boilerplate fingerprint with millions of corpus occurrences joins as
    * ONE row instead of amplifying every batch match by its corpus
    * multiplicity.
    */
  def canonicalPassageFps(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("_c"))
      .select(col("fp"), col("_c.doc_id").as("corpus_id"), col("_c.pos").as("corpus_pos"))

  /** Passage matches BETWEEN a batch and a corpus fingerprint set — the
    * daily-ingest face of passage dedup ([[minhashPairsBetween]]'s
    * analogue): `corpusFps` is a persisted [[passageFingerprints]] output
    * (plain scalar parquet — doc_id, pos, fp — the passage analogue of
    * the MinhashIndex banded artifact), so each ingest pays O(batch
    * tokens) map work plus one key-equality join; the corpus is never
    * re-fingerprinted. The corpus side is deduped to one row per
    * fingerprint ([[canonicalPassageFps]]) BEFORE the join, so a
    * million-occurrence boilerplate fingerprint cannot amplify the match
    * stream. Returns one row per batch window whose fingerprint the
    * corpus already holds: (doc_id, pos, fp, corpus_id, corpus_pos),
    * unsorted.
    */
  def passageMatchesAgainst(corpusFps: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 50): DataFrame =
    passageFingerprints(batch, idCol, textCol, w)
      .join(canonicalPassageFps(corpusFps), Seq("fp"))
      .select(col("doc_id"), col("pos"), col("fp"), col("corpus_id"), col("corpus_pos"))

  // ---- cross-doc exact line dedup (the CCNet/RefinedWeb line-level screen) ----

  /** Fingerprints of every non-empty line of every doc — LINE-level
    * identity, the cheapest cross-doc boilerplate screen (CCNet dedups
    * the corpus per line hash; RefinedWeb removes lines duplicated across
    * pages of a site). Lines split on `\n`; each is normalized for
    * MATCHING as `lower(trim(l, " \t\r"))` (case/edge-whitespace variants
    * of a boilerplate line must collide) while `line_no` keeps the
    * ORIGINAL 0-based index so the excision face can address raw lines;
    * lines empty after normalization emit nothing (blank separators are
    * not boilerplate). Fingerprint = the native [[TextOps.fingerprint]]
    * polynomial via the codegen'd Fingerprint64 expression — map-side
    * Tungsten work, no UDF.
    *
    * Returns (doc_id, line_no, fp).
    */
  def lineFingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")))
      .toDF("doc_id", "line_no", "l")
      .select(col("doc_id"), col("line_no"),
        lower(trim(col("l"), graft.ops.TextOps.LineTrimChars)).as("nl"))
      .filter(length(col("nl")) > 0)
      .select(col("doc_id"), col("line_no"),
        graft.functions.GraftFunctions.fingerprint64(col("nl")).as("fp"))

  /** Duplicated lines: every line whose normalized fingerprint occurs at
    * least twice in the corpus (within OR across docs). Returns (doc_id,
    * line_no, fp, n_occurrences), unsorted (operator contract).
    *
    * Scale shape (100 TB): ONE hash exchange keyed by the 8-byte
    * fingerprint carrying (fp, doc_id, line_no) — line text never
    * shuffles — and the count is a window aggregate over that exchange
    * (the [[duplicatePassages]] shape). Line granularity is strictly
    * cheaper than passages: one fingerprint per line instead of one per
    * token position.
    */
  def duplicateLines(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    lineFingerprints(df, idCol, textCol)
      .withColumn("n_occurrences", count(lit(1)).over(byFp))
      .filter(col("n_occurrences") >= 2)
  }

  /** Line dedup applied as a TRANSFORM: for every duplicated fingerprint
    * the CANONICAL occurrence — lexicographic-min (doc_id, line_no) —
    * survives verbatim; every other occurrence is EXCISED from its doc.
    * Untouched docs keep their text byte-exact; rewritten docs are
    * rebuilt from their surviving RAW lines joined by `\n` (surviving
    * line bytes are preserved exactly — unlike the token-level passage
    * rewrite, a line excision needs no re-tokenization).
    *
    * Scale: the [[lineFingerprints]] exchange + a within-partition
    * row_number (no range exchange), one O(duplicated lines) doc-keyed
    * fold to a sorted index array, and a key-equality left join back to
    * the corpus; the rebuild is a map-side indexed filter.
    */
  def stripDuplicateLines(spark: SparkSession, df: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"), col("line_no"))
    val nonCanonical = lineFingerprints(df, idCol, textCol)
      .withColumn("_rk", row_number().over(byFp))
      .filter(col("_rk") > 1)
      .select(col("doc_id"), col("line_no"))
    exciseLines(df, nonCanonical, idCol, textCol)
  }

  /** Excise the 0-based line indexes listed in `lines` (doc_id, line_no)
    * from `df`: per-doc sorted index array, key-equality join, map-side
    * rebuild from the raw lines (see [[stripDuplicateLines]]'s contract).
    */
  private def exciseLines(df: DataFrame, lines: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val covered = lines
      .select(col("doc_id").as("_lstrip_id"), col("line_no"))
      .groupBy(col("_lstrip_id"))
      .agg(sort_array(collect_set(col("line_no"))).as("_lcov"))
    df.join(covered, df(idCol) === col("_lstrip_id"), "left")
      .withColumn(textCol,
        when(col("_lcov").isNull, col(textCol))
          .otherwise(concat_ws("\n",
            filter(split(coalesce(col(textCol), lit("")), "\n"),
              (l, i) => not(array_contains(col("_lcov"), i))))))
      .drop("_lstrip_id", "_lcov")
  }

  /** One row per DISTINCT line fingerprint with its canonical occurrence
    * — the compacted corpus-side artifact for incremental line screens
    * (the [[canonicalPassageFps]] analogue: a boilerplate line with
    * millions of corpus occurrences joins as ONE row).
    */
  def canonicalLineFps(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("_c"))
      .select(col("fp"), col("_c.doc_id").as("corpus_id"),
        col("_c.line_no").as("corpus_line"))

  /** Line matches BETWEEN a batch and a persisted corpus line-fingerprint
    * set — the daily-ingest face: O(batch lines) map work plus one
    * key-equality join against the fp-deduped corpus side; the corpus is
    * never re-fingerprinted. Returns (doc_id, line_no, fp, corpus_id,
    * corpus_line), unsorted.
    */
  def lineMatchesAgainst(corpusFps: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lineFingerprints(batch, idCol, textCol)
      .join(canonicalLineFps(corpusFps), Seq("fp"))
      .select(col("doc_id"), col("line_no"), col("fp"),
        col("corpus_id"), col("corpus_line"))

  /** Exact n-gram Jaccard for a candidate pair set (verification stage). */
  def ngramJaccard(a: String, b: String, n: Int = 3): Double = {
    val sa = shingles(a, n).toSet
    val sb = shingles(b, n).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      val union = sa.union(sb).size
      if (union == 0) 0.0 else inter.toDouble / union
    }
  }
}
