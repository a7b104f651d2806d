package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k with the dot product expressed via the
  * built-in higher-order functions `zip_with` + `aggregate` (whole-stage
  * codegen, no UDF). Scale path: random-hyperplane LSH bucketing so the
  * pairwise work only happens inside buckets — the 100 TB variant of the
  * same query keeps one equality-keyed shuffle and drops the cross join.
  */
object Similarity {

  /** cosine(a, b) as a Column over two array<float/double> columns. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(zip_with(a, a, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(zip_with(b, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (na * nb))
  }

  /** Brute-force top-k cosine neighbors for a set of query vectors.
    * `queries` is broadcast (small side), the corpus streams — the plan is
    * BroadcastNestedLoopJoin over the corpus scan, i.e. one pass, no
    * shuffle of the big side.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
    topKByCosine(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .join(q, col("neighbor_id") =!= col("query_id")), k)
  }

  /** cosine(a, b) over two array columns, rounded to 6 places — the score
    * every search and verify here reports.
    */
  private def cosine6(a: String, b: String): Column =
    round(cosine(col(a).cast("array<double>"), col(b).cast("array<double>")), 6)

  /** The one cosine top-k tail over candidate (query_id, qvec, neighbor_id,
    * cvec) rows: score, rank per query (the WindowGroupLimit rank), keep
    * the top k. The per-query rank ORDER is the semantics of a top-k result
    * (and the result set is k×queries tiny) — not an operator-tail waste
    * sort.
    */
  private def topKByCosine(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    candidates.withColumn("cos", cosine6("qvec", "cvec"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic random hyperplanes: nBits × dim matrix from splitmix64.
    * For multi-table LSH pass nTables*nBits and slice per table.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var s = seed
    @inline def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(nBits) {
      Array.fill(dim) {
        // uniform in [-1, 1)
        ((next() >>> 11) * 1.1102230246251565e-16) * 2.0 - 1.0
      }
    }
  }

  def lshSignature(vec: Array[Float], planes: Array[Array[Double]], from: Int,
      nBits: Int): Int = {
    var sig = 0
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      val p = planes(from + b)
      val n = math.min(p.length, vec.length)
      var i = 0
      while (i < n) { dot += p(i) * vec(i); i += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** LSH-bucketed near-neighbor pairs, banded over `nTables` independent
    * hash tables (analogous to minhash banding — see Dedup.minhashPairs):
    * a pair is a candidate when it collides in ANY table, so recall at
    * similarity s is 1-(1-p^nBits)^nTables with p = 1 - acos(s)/π. At the
    * default (nBits=12, nTables=16) that is ≥0.97 for cosine ≥0.95 and
    * ≥0.93 for cosine ≥0.92 — the near-duplicate regime this operator
    * targets at corpus scale. (Hyperplane LSH is provably NOT a high-recall
    * device for weakly-similar pairs: at cosine 0.3 the per-table collision
    * rate is p^12 ≈ 0.002, so sub-quadratic candidate generation and ≥0.9
    * recall are mutually exclusive there — use bruteForceTopK for small
    * query sets instead.)
    *
    * Scale shape: signatures are map-side and the candidate exchange
    * carries (id, table, bucket) ONLY — never the embedding — so the
    * nTables-way explosion amplifies 16-byte rows, not vectors. Buckets
    * larger than `bucketCap` are salted into ceil(n/bucketCap) sub-buckets
    * by an (id, tbl) hash (`Dedup.saltedPairs`, the one bucket-cap
    * salting) — bounding worst-case in-bucket pair work at the cost of
    * cross-salt pairs in that one table (other tables still catch them).
    * Bucket sizes come from a tiny (table, bucket) count aggregate that is
    * broadcast back, so the cap costs one metadata-sized join, not a second
    * data shuffle. Candidate pairs dedup across tables while still id-only;
    * vectors re-attach by two id-keyed joins against the once-materialized
    * corpus for the exact-cosine verify — total vector I/O is
    * O(corpus + candidates), not O(corpus × nTables).
    */
  def lshNearNeighbors(spark: SparkSession, corpus: DataFrame, nBits: Int = 12,
      nTables: Int = 16, seed: Long = 42L, minCosine: Double = 0.9,
      bucketCap: Int = 4096, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    require(nBits > 0 && nBits <= 24, "nBits in (0, 24]")
    require(nTables > 0, "nTables > 0")
    Dedup.checkBucketCap(bucketCap)
    val dimRow = corpus.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty) // empty corpus: empty pair set, correct schema
      return spark.emptyDataset[(Long, Long, Double)].toDF("id_a", "id_b", "cos")
    val dim = dimRow(0).getInt(0)
    val planes = hyperplanes(nTables * nBits, dim, seed)

    // NOT materialized (round 8): this is a narrow projection of the
    // corpus — for the typical parquet-backed corpus each of its three
    // consumers (the signature map and both verify re-attach sides) is a
    // column-pruned scan, strictly cheaper at every scale than writing
    // the ENTIRE vector corpus into block storage first (guide §5:
    // cache only when recompute beats the memory pressure — a scan
    // doesn't). The expensive stage (the nTables×nBits signature fold)
    // is materialized below, so it still runs exactly once; callers with
    // a costly derived corpus should materialize it themselves.
    val vecs = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

    // signatures are map-side and carry NO vector column — the candidate
    // shuffle moves 16 bytes × nTables per id, not the embedding × nTables
    // (the round-2 shape shuffled every vector 16×; at a 100 TB embedding
    // corpus that exchange was the job). The signature itself is a native
    // Catalyst expression (doGenCode) + posexplode, so the whole stage stays
    // inside whole-stage codegen — no Deserialize→flatMap→Serialize break
    // (the last one on a scale-path map stage, removed round 4).
    // materialized: the signature set feeds FOUR plan branches (both
    // self-join sides × (data stream + bucket-count aggregate)).
    val sigged = Materialize(vecs
      .select(col("id"), posexplode(graft.functions.LshFunctions
        .lshSignatures(col("v"), planes, nTables, nBits)))
      .toDF("id", "tbl", "bucket"))

    // candidate pairs: ids only, deduped across tables BEFORE the verify so
    // each surviving pair pays the exact cosine once; oversized
    // (tbl, bucket) keys salt on (id, tbl)
    val pairs = Dedup.saltedPairs(sigged, sigged, sigged, "tbl", "bucket", "id_a", "id_b",
      col("id_a") < col("id_b"), bucketCap)

    // exact-cosine verify: re-attach vectors by id — vector bytes cross the
    // wire once per side per candidate, not once per (table × member)
    val va = vecs.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = vecs.select(col("id").as("id_b"), col("v").as("v_b"))
    // UNSORTED operator return: the cosine dedup family (connectedComponents
    // → keepFirst/keepBest) joins this pair set immediately — a tail orderBy
    // would pay a range exchange + sort the join destroys. Surface queries
    // (q_ann_lsh) add their own determinism sort.
    pairs.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos", cosine6("v_a", "v_b"))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  // ---- IVF (inverted-file) top-k: the query-centric ANN scale path ----

  /** Deterministic Lloyd k-means over L2-normalized vectors (dot-product
    * assignment ≡ cosine). Driver-side over a BOUNDED sample — standard IVF
    * practice: centroid training samples the corpus (FAISS trains on ~1e5
    * points for billion-vector indexes); only assignment is distributed.
    */
  def trainCentroids(sample: Array[Array[Float]], nList: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    def normalized(v: Array[Float]): Array[Double] = {
      val d = new Array[Double](dim)
      var s = 0.0
      var i = 0
      while (i < math.min(dim, v.length)) { d(i) = v(i); s += d(i) * d(i); i += 1 }
      val n = math.sqrt(s)
      if (n > 0) { i = 0; while (i < dim) { d(i) /= n; i += 1 } }
      d
    }
    val pts = sample.map(normalized)
    // deterministic spread init: every (len/nList)-th sample point
    val cents = Array.tabulate(math.min(nList, pts.length)) { c =>
      pts((c.toLong * pts.length / nList).toInt).clone()
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      pts.foreach { p =>
        val c = nearestCell(p, cents)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0) {
          var s = 0.0
          var i = 0
          while (i < dim) { sums(c)(i) /= counts(c); s += sums(c)(i) * sums(c)(i); i += 1 }
          val n = math.sqrt(s)
          if (n > 0) { i = 0; while (i < dim) { sums(c)(i) /= n; i += 1 } }
          cents(c) = sums(c)
        } // empty cell keeps its old centroid (deterministic)
        c += 1
      }
      it += 1
    }
    cents
  }

  @inline private def dot(v: Array[Float], c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(v.length, c.length)
    while (i < n) { s += v(i) * c(i); i += 1 }
    s
  }

  def nearestCell(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var s = 0.0
      var i = 0
      while (i < p.length) { s += p(i) * cents(c)(i); i += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  def nearestCells(v: Array[Float], cents: Array[Array[Double]], nProbe: Int): Array[Int] = {
    cents.indices.map(c => (dot(v, cents(c)), c)).sortBy(t => (-t._1, t._2))
      .take(nProbe).map(_._2).toArray
  }

  /** IVF top-k: train centroids on a bounded deterministic sample, assign
    * the corpus map-side (NO shuffle of the big side), explode each query
    * into its nProbe probed cells, and BroadcastHashJoin the (tiny) probe
    * table against the assigned corpus on the cell id — the corpus is
    * scanned once and only probed cells pay the cosine. Top-k per query via
    * the WindowGroupLimit rank. Exact cosine on every returned pair.
    *
    * Complements lshNearNeighbors: LSH answers "all pairs above s" for
    * near-dup mining; IVF answers "top-k for these queries" at a corpus
    * scan bounded by nProbe/nList of the data.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame, k: Int,
      nList: Int = 16, nProbe: Int = 4, trainSampleN: Int = 4096, iters: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    trainedIndex(spark, corpus, nList, trainSampleN, iters, idCol, vecCol)
      .map(ivfTopKFromIndex(_, queries, k, nProbe, idCol, vecCol))
      // empty corpus: empty result, correct schema
      .getOrElse(spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("query_id", "neighbor_id", "cos", "rank"))
  }

  /** The one sample-and-train step: Lloyd k-means on the `trainSampleN`
    * lowest-id vectors, then the map-side assignment. None on an empty
    * corpus.
    *
    * The sample is bounded but its TakeOrdered still SCANS the corpus once
    * to find the lowest ids — at 100 TB prune the scan first (feed a
    * manifest/partition-pruned slice of the corpus as `corpus`, e.g. the
    * first file split per partition), or swap the orderBy for a
    * per-partition deterministic sample (mapPartitions taking the first
    * N/parts rows per split). Kept as the global TakeOrdered here because
    * the oracle replays centroid training bit-exactly from "the
    * trainSampleN lowest-id vectors" — a stable, engine-independent
    * definition.
    */
  private def trainedIndex(spark: SparkSession, corpus: DataFrame, nList: Int,
      trainSampleN: Int, iters: Int, idCol: String, vecCol: String): Option[IvfIndex] = {
    import spark.implicits._
    val sample = corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(trainSampleN).select(col(vecCol)).as[Array[Float]].collect()
    if (sample.isEmpty) return None
    val cents = trainCentroids(sample, nList, iters)
    Some(IvfIndex(cents, assignVectors(cents, corpus, idCol, vecCol), nList))
  }

  /** Map-side assignment of vectors to FIXED centroids — the add() step of
    * a growing ANN corpus, and the delta a production pipeline
    * [[IvfIndex.appendSegment]]s. The assignment is a native Catalyst
    * expression (doGenCode; the centroid matrix rides the plan as a
    * codegen reference object), so the corpus-wide scan stays inside
    * whole-stage codegen instead of a Deserialize→map→Serialize break.
    * Cell ids replay Similarity.nearestCells' arithmetic bit-exactly (the
    * oracle recomputes them).
    */
  def assignVectors(cents: Array[Array[Double]], df: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cvec"),
      graft.functions.IvfFunctions.nearestCell(col(vecCol), cents).as("cell"))

  /** IVF search from a prebuilt (usually [[IvfIndex.load]]ed) index: the
    * production query path — the corpus side is a parquet scan of already-
    * assigned (id, vec, cell) rows, so the search plans NO assignment
    * expression over the corpus at all; only the (tiny, broadcast) query
    * probes pay centroid arithmetic at search time, and only probed cells
    * pay the exact cosine.
    */
  def ivfTopKFromIndex(idx: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.IvfFunctions
    val probes = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("qvec"),
        explode(IvfFunctions.probeCells(col(vecCol), idx.centroids, nProbe)).as("cell"))
      .select(col("query_id"), col("qvec"), col("cell"))

    topKByCosine(idx.assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** Build the IVF index for a corpus: deterministic bounded-sample Lloyd
    * k-means + map-side assignment — the artifact [[IvfIndex.write]]
    * persists so production search never retrains or reassigns per query.
    */
  def ivfIndex(spark: SparkSession, corpus: DataFrame, nList: Int = 16,
      trainSampleN: Int = 4096, iters: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val idx = trainedIndex(spark, corpus, nList, trainSampleN, iters, idCol, vecCol)
    require(idx.nonEmpty, "empty corpus: IVF centroid training needs vectors")
    idx.get
  }
}
