package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.grid.Cell
import graft.ops.{Dedup, Similarity, TextOps}
import graft.spark.Snapshots

/** Loud-failure guards and backward-compat fallbacks (round-4 ADVICE):
  * closed domains must throw on unknown values instead of silently
  * coercing, and manifest reads must survive the wall_ms→wall_share_ms
  * field rename so crash+resume works across the upgrade.
  */
class GuardsSpec extends AnyFunSuite {

  test("Cell constructor rejects an unknown dataType (closed domain)") {
    val e = intercept[IllegalArgumentException] {
      new Cell("v", "v", "bogus_type", 0, 0)
    }
    assert(e.getMessage.contains("bogus_type"))
    // the closed domain itself still round-trips
    for (dt <- Seq("string", "number", "boolean", "date", "datetime", "empty"))
      assert(new Cell("v", "v", dt, 0, 0).dataType == dt)
  }

  test("bandHashesOf rejects a signature length not divisible by bands") {
    intercept[IllegalArgumentException] { Dedup.bandHashesOf(new Array[Long](65), 16) }
    assert(Dedup.bandHashesOf(new Array[Long](64), 16).length == 16)
    // an EMPTY signature (content-free doc) is total, not a throw: the doc
    // lands in no band bucket — same drop semantics as the size(sig) > 0
    // pre-filter, so a call site missing the filter degrades instead of
    // killing the job on the first blank document (round-5 ADVICE)
    assert(Dedup.bandHashesOf(Array.emptyLongArray, 16).isEmpty)
  }

  /** Calls every MinHash operator with (k, bands, shingleN) and asserts each
    * throws an IllegalArgumentException naming `msg` before any Spark job:
    * keepFirstTwoPhase runs its exact pre-pass job first, so its guard must
    * come before that job. */
  private def assertMinhashGuards(k: Int, bands: Int, n: Int, msg: String): Unit = {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.spark.StreamingPipeline
    val docs = Seq((1L, "a b c d", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "text", "warc_ts")
    val sites = Seq[() => Any](
      () => graft.ops.MinhashIndex(docs, docs, k, bands, n),
      () => Dedup.minhashIndex(spark, docs, k = k, bands = bands, shingleN = n),
      () => Dedup.minhashPairs(spark, docs, k = k, bands = bands, shingleN = n),
      () => Dedup.minhashPairsIncremental(spark, docs, docs, k = k, bands = bands,
        shingleN = n),
      () => Dedup.keepFirstTwoPhase(spark, docs, k = k, bands = bands, shingleN = n),
      () => Dedup.applyIncremental(spark, docs, docs, k = k, bands = bands, shingleN = n),
      () => StreamingPipeline.nearDupPairs(docs, k = k, bands = bands, shingleN = n),
      () => StreamingPipeline.corpusDedupMatches(docs, docs, k = k, bands = bands,
        shingleN = n))
    for ((site, i) <- sites.zipWithIndex) {
      val group = s"minhash-param-guard-$k-$bands-$n-$i"
      spark.sparkContext.setJobGroup(group, group)
      val e = try intercept[IllegalArgumentException](site())
        finally spark.sparkContext.clearJobGroup()
      assert(e.getMessage.contains(msg), s"site $i: ${e.getMessage}")
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        s"site $i ran a Spark job before rejecting k=$k bands=$bands shingleN=$n")
    }
  }

  test("MinHash operators reject k = 0 and bands = 0 with one loud guard") {
    // bands = 0 would divide by zero; k = 0 would make every signature
    // empty, so the streaming operators would silently return nothing
    for ((k, bands) <- Seq((0, 16), (64, 0), (0, 0)))
      assertMinhashGuards(k, bands, 3, "positive multiple of bands")
  }

  test("MinHash operators reject a non-positive shingleN before any job") {
    // a shingle of no tokens hashes no text: every doc got the same
    // signature, and keepFirstTwoPhase kept one doc of the whole corpus
    for (n <- Seq(0, -1))
      assertMinhashGuards(64, 16, n, "shingleN > 0")
  }

  test("LSH operators reject a non-positive bucketCap") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // built outside the job groups below: building an index runs a job
    val idx = Dedup.minhashIndex(spark, docs)
    // cap 0 divided by zero inside a job; a negative cap marked every
    // bucket oversized with a negative nsplit and scattered its members
    // across salts with no error. The guard runs before any Spark job,
    // also in the composed operators that materialize a pre-pass or the
    // batch signatures before their first LSH stage.
    for (cap <- Seq(0, -1)) {
      val sites = Seq[() => Any](
        () => Similarity.lshNearNeighbors(spark, vecs, bucketCap = cap),
        () => Similarity.lshNearNeighbors(spark, noVecs, bucketCap = cap),
        () => Dedup.minhashPairs(spark, docs, bucketCap = cap),
        () => Dedup.minhashPairsIncremental(spark, docs, docs, bucketCap = cap),
        () => Dedup.keepFirstTwoPhase(spark, docs, bucketCap = cap),
        () => Dedup.applyIncremental(spark, docs, docs, bucketCap = cap),
        () => Dedup.applyIncrementalFromIndex(spark, idx, docs, bucketCap = cap),
        () => Dedup.ingestIncremental(spark, idx, docs, bucketCap = cap))
      for ((site, i) <- sites.zipWithIndex) {
        val group = s"bucket-cap-guard-$cap-$i"
        spark.sparkContext.setJobGroup(group, group)
        try intercept[IllegalArgumentException](site())
        finally spark.sparkContext.clearJobGroup()
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
          s"site $i ran a Spark job before rejecting bucketCap=$cap")
      }
    }
  }

  test("ngramContamination and decontaminate reject a non-positive n-gram size") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val evalSet = Seq((7L, "a b")).toDF("doc_id", "text")
    // n = 0 used to emit n+1 junk fingerprints, n < 0 an index error
    for (n <- Seq(0, -1)) {
      val sites = Seq[() => Any](
        () => Dedup.ngramContamination(spark, corpus, evalSet, n = n),
        () => Dedup.decontaminate(spark, corpus, evalSet, n = n))
      for (site <- sites) {
        val e = intercept[IllegalArgumentException](site())
        assert(e.getMessage.contains("n > 0"))
      }
    }
    assert(Dedup.ngramContamination(spark, corpus, evalSet, n = 2).count() == 1)
  }

  test("n-gram and top-k text statistics reject a non-positive size before any job") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    // n = 0 emitted an empty-string n-gram per token position, n < 0
    // aborted a task; k = 0 made the vocabulary empty, so every doc
    // scored n_common = 0
    for (v <- Seq(0, -1)) {
      val sites = Seq[() => Any](
        () => TextOps.ngramStats(docs, n = v),
        () => TextOps.topTokens(docs, k = v),
        () => TextOps.tokenFrequencyQuality(docs, k = v))
      for ((site, i) <- sites.zipWithIndex) {
        val group = s"text-stats-guard-$v-$i"
        spark.sparkContext.setJobGroup(group, group)
        try intercept[IllegalArgumentException](site())
        finally spark.sparkContext.clearJobGroup()
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
          s"site $i ran a Spark job before rejecting $v")
      }
    }
  }

  test("connectedComponents throws loudly when maxIter is exhausted") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // a 9-hop chain needs ~3 propagate+jump rounds + 1 convergence round;
    // maxIter = 1 cannot converge → must throw, never return wrong labels
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(spark, chain, maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("Materialize returns the same rows behind a single LogicalRDD leaf") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").filter($"a" > 0L)
    val m = graft.ops.Materialize(df)
    assert(m.collect().toSeq == df.collect().toSeq)
    // lineage is truncated: the connectedComponents loop feeds each round's
    // labels into the next, and an un-truncated plan would nest the
    // pointer-jumping self-join's double reference every round
    val plan = m.queryExecution.analyzed
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], plan.treeString)
    assert(plan.children.isEmpty, plan.treeString)
    val src = df.queryExecution.analyzed
    assert(plan.find(p => (p eq src) || p.sameResult(src)).isEmpty,
      s"materialized plan still references the input plan:\n${plan.treeString}")
  }

  test("a put outside the declared bounds throws and a live cursor still reads its cell") {
    // a grid's bounds are declared before the first write and never grow:
    // an out-of-bounds put fails loudly instead of corrupting a neighbour
    // slot, and leaves the arrays a live cursor reads from in place
    val (g, _) = graft.core.html.DelimitedText.parse("aa\tbb\ncc\tdd", '\t')
    val cur = g.cursor
    assert(cur.moveTo(0, 1) && cur.value == "bb", "span-backed parse")
    // position WITHOUT materializing, then attempt out-of-bounds puts
    assert(cur.moveTo(1, 0))
    intercept[IllegalArgumentException] {
      g.put(Cell.str("far", 5000, 5000))
    }
    intercept[IllegalArgumentException] {
      g.put(Cell.str("right", 0, 2)) // one past the last column
    }
    intercept[IllegalArgumentException] {
      g.put(Cell.str("neg", -1, 0))
    }
    assert(cur.value == "cc", "the deferred read sees its cell")
    val sb = new java.lang.StringBuilder
    cur.appendValueTo(sb)
    assert(sb.toString == "cc")
    assert(g.size == 4 && g.maxRow == 1 && g.maxCol == 1, "the failed puts stored nothing")
    assert(g.get(5000, 5000) == null && !g.presentAt(0, 2))
  }

  test("manifest reader falls back to the legacy wall_ms field name") {
    val dir = Files.createTempDirectory("snapguard").toString
    val snaps = Paths.get(dir, "_snapshots")
    Files.createDirectories(snaps)
    // a manifest written by the pre-rename code: wall_ms, no wall_share_ms
    val legacy =
      """{"snapshot_id": 7, "parent_id": -1, "committed": [
        |  {"bucket": 0, "rows": 10, "tables": 2, "parse_failures": 0,
        |   "bytes_stripped": 123, "wall_ms": 456, "snapshot_id": 7,
        |   "files": ["part-0.parquet"]}]}""".stripMargin
    Files.write(snaps.resolve("snap-7.json"), legacy.getBytes(StandardCharsets.UTF_8))
    Files.write(snaps.resolve("current"), "snap-7.json".getBytes(StandardCharsets.UTF_8))
    val m = Snapshots.readCurrent(dir).get
    assert(m.snapshotId == 7L)
    assert(m.committed.head.wallShareMs == 456L, "legacy wall_ms must be read")
    assert(m.committed.head.bytesStripped == 123L)
  }
}
