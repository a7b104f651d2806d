package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.grid.Cell
import graft.ops.{Dedup, Similarity}
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

  test("MinHash operators reject k = 0 and bands = 0 with one loud guard") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import graft.spark.StreamingPipeline
    val docs = Seq((1L, "a b c d", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "text", "warc_ts")
    // bands = 0 would divide by zero; k = 0 would make every signature
    // empty, so the streaming operators would silently return nothing
    for ((k, bands) <- Seq((0, 16), (64, 0), (0, 0))) {
      val sites = Seq[() => Any](
        () => graft.ops.MinhashIndex(docs, docs, k, bands, 3),
        () => Dedup.minhashIndex(spark, docs, k = k, bands = bands),
        () => StreamingPipeline.nearDupPairs(docs, k = k, bands = bands),
        () => StreamingPipeline.corpusDedupMatches(docs, docs, k = k, bands = bands))
      for (site <- sites) {
        val e = intercept[IllegalArgumentException](site())
        assert(e.getMessage.contains("positive multiple of bands"), e.getMessage)
      }
    }
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

  test("ngramContaminationAgainst rejects a non-positive n-gram size") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val evalNgrams = Seq((7L, "a b")).toDF("eval_id", "ngram")
    // n = 0 used to emit n+1 junk fingerprints, n < 0 an index error
    for (n <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException] {
        Dedup.ngramContaminationAgainst(corpus, evalNgrams, n = n)
      }
      assert(e.getMessage.contains("n > 0"))
    }
    assert(Dedup.ngramContaminationAgainst(corpus, evalNgrams, n = 2).count() == 1)
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

  test("Materialize.iterative never degrades to a no-op under Recompute") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    // plain Recompute is the identity (no materialization)...
    assert(graft.ops.Materialize(df, graft.ops.Materialize.Recompute) eq df)
    // ...but iterative loop state upgrades to Local: lineage must truncate
    // per round or the pointer-jumping self-join's double reference grows
    // the plan exponentially with iterations
    val it = graft.ops.Materialize.iterative(df, graft.ops.Materialize.Recompute)
    assert(!(it eq df))
    assert(it.collect().toSeq == df.collect().toSeq)
  }

  test("GridCursor deferred reads fail loudly after a dense->map migration") {
    // round-5 ADVICE: a cursor slot captured before an out-of-bounds put is
    // stale once the grid migrates to the sparse map (the columnar arrays
    // are nulled). Deferred value reads must throw the documented
    // IllegalStateException, never NPE on the freed backing or silently
    // read the wrong cell. (The kernel never mutates with a live cursor —
    // this pins the contract for future call sites.)
    val (g, _) = graft.core.html.DelimitedText.parse("aa\tbb\ncc\tdd", '\t')
    val cur = g.cursor
    assert(cur.moveTo(0, 1) && cur.value == "bb", "span-backed dense parse")
    // re-position WITHOUT materializing, then migrate via out-of-bounds put
    assert(cur.moveTo(1, 0))
    g.put(graft.core.grid.Cell.str("far", 5000, 5000)) // beyond dense bounds
    val e = intercept[IllegalStateException] { cur.value }
    assert(e.getMessage.contains("migrated"), e.getMessage)
    // a fresh moveTo against the migrated grid reads correctly
    assert(cur.moveTo(1, 0) && cur.value == "cc")
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
