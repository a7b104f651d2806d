package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextOps}

/** Correctness of the training-data operators: minhash vs exact jaccard,
  * LSH vs brute-force recall, simhash blocking completeness, text stats.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docsWithDups = {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().take(60)
    // inject exact + near duplicates with known ids
    val rows = base.toVector ++ Vector(
      (100001L, base(0)._2), // exact dup of doc 0
      (100002L, base(1)._2 + " extra tail token"), // near dup of doc 1
      (100003L, base(2)._2.replace("e", "e")) // identical content, dup of doc 2
    )
    rows.toDF("doc_id", "text")
  }

  test("exact dedup finds injected duplicates") {
    val df = docsWithDups
    // the duplicates are every id that is not its text hash's keep_id
    val keepIds = Dedup.exact(df).select("keep_id").collect().map(_.getLong(0)).toSet
    val dupIds = df.select("doc_id").collect().map(_.getLong(0)).toSet -- keepIds
    assert(dupIds.contains(100001L))
    assert(dupIds.contains(100003L))
    assert(!dupIds.contains(100002L), "near-dup must not be an exact dup")
  }

  test("minhash estimates track exact n-gram jaccard") {
    val df = docsWithDups
    val pairs = Dedup.minhashPairs(spark, df, k = 128, bands = 32, threshold = 0.5).collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact duplicate pair must be found with estimate ~1.0
    val exactPair = byPair.find { case ((a, b), _) => b == 100001L || a == 100001L }
    assert(exactPair.isDefined, s"exact dup pair missing from ${byPair.keys}")
    assert(exactPair.get._2 >= 0.99)
    // near-dup estimate within 0.15 of exact jaccard
    import spark.implicits._
    val texts = df.as[(Long, String)].collect().toMap
    byPair.foreach { case ((a, b), est) =>
      val exact = Dedup.ngramJaccard(texts(a), texts(b), 3)
      assert(math.abs(est - exact) < 0.2, s"pair ($a,$b): est $est vs exact $exact")
    }
  }

  test("connectedComponents clusters transitive near-dup chains") {
    import spark.implicits._
    // chain a-b, b-c, c-d (no a-c/a-d/b-d edges) + an isolated pair + a
    // clique: all must resolve to min-id clusters despite multi-hop paths
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // 4-chain: diameter 3 exercises jumping
      (10L, 11L), // isolated pair
      (20L, 21L), (20L, 22L), (21L, 22L) // triangle
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // longer chain than one propagate+jump round can close: 9 hops.
    // round count is the O(log diameter) observable: ~log2(9)+O(1), far
    // below the 9 rounds min-label propagation alone would need
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    val (chainDf, rounds) = Dedup.connectedComponentsRounds(spark, chain)
    val got2 = chainDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == (100L to 109L).map(i => (i, 100L)).toSet)
    assert(rounds <= 7, s"9-hop chain must converge in ~log2(9) rounds, took $rounds")
    // empty pair set: empty output, correct schema
    val empty = Dedup.connectedComponents(spark,
      spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.columns.toSeq == Seq("id", "cluster_id") && empty.count() == 0)
  }

  test("keepFirstByPairs keeps one survivor per component plus unpaired docs") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepFirstByPairs(spark, docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // components {1,2,3} -> keep 1; {5,6} -> keep 5; 4,7..10 unpaired
    assert(kept == Set(1L, 4L, 5L, 7L, 8L, 9L, 10L))
  }

  test("keepBestByPairs keeps the highest-quality survivor per component") {
    import spark.implicits._
    // quality: cluster {1,2,3} -> 2 is longest, survives (keepFirst would
    // keep 1); equal-quality tie in {5,6} -> min id 5; unpaired always kept
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), (4L, 5L),
      (5L, 7L), (6L, 7L), (7L, 1L)
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestByPairs(spark, docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L, 7L))
  }

  test("incremental minhash pairs equal the self-join restricted to cross pairs") {
    // pair verdicts are pairwise (no dependence on other docs while the
    // cap is inert), so the incremental operator must equal the full
    // self-join filtered to pairs straddling the corpus/batch split
    val all = docsWithDups
    val corpus = all.filter(col("doc_id") % 2 =!= 0)
    val batch = all.filter(col("doc_id") % 2 === 0)
    val expect = Dedup.minhashPairs(spark, all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, e) =>
        if ((a % 2 == 0) != (b % 2 == 0))
          Some(if (a % 2 == 0) (b, a, e) else (a, b, e))
        else None
      }.toSet
    val got = Dedup.minhashPairsIncremental(spark, corpus, batch, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty && got == expect)
  }

  test("incremental dedup never emits a self-pair for a resubmitted id") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq((7L, text)).toDF("doc_id", "text")
    val batch = Seq((7L, text)).toDF("doc_id", "text") // same id re-arrives
    assert(Dedup.minhashPairsIncremental(spark, corpus, batch, threshold = 0.5)
      .collect().isEmpty)
  }

  test("applyIncremental drops corpus-matched batch docs then self-dedupes the rest") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog again"
    val textB = "entirely different content about sailing ships across oceans"
    val textC = "a third unrelated passage describing mountain weather patterns"
    val corpus = Seq((1L, textA)).toDF("doc_id", "text")
    val batch = Seq(
      (2L, textA), // near-dups the corpus -> dropped
      (4L, textB), (6L, textB), // in-batch dup pair -> keep min id 4
      (8L, textC) // unique -> kept
    ).toDF("doc_id", "text")
    val kept = Dedup.applyIncremental(spark, corpus, batch, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 8L))
  }

  test("persisted band index: index-fed incremental equals corpus-fed exactly") {
    import graft.ops.MinhashIndex
    val all = docsWithDups
    val corpus = all.filter(col("doc_id") % 2 =!= 0)
    val batch = all.filter(col("doc_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), dir)
    val loaded = MinhashIndex.load(spark, dir)
    assert(loaded.k == 64 && loaded.bands == 16 && loaded.shingleN == 3)
    // pair surface: the production path (parquet-loaded corpus index, zero
    // corpus-side map work) must be row-identical to the corpus-fed operator
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val fed = rows(Dedup.minhashPairsBetween(loaded,
      Dedup.minhashIndex(spark, batch), threshold = 0.5))
    val direct = rows(Dedup.minhashPairsIncremental(spark, corpus, batch,
      threshold = 0.5))
    assert(fed.nonEmpty && fed == direct)
    // apply surface: same parity end to end
    val fedKept = Dedup.applyIncrementalFromIndex(spark, loaded, batch,
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val directKept = Dedup.applyIncremental(spark, corpus, batch, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fedKept.nonEmpty && fedKept == directKept)
  }

  test("band index append is idempotent and rejects parameter mismatches") {
    import graft.ops.MinhashIndex
    val all = docsWithDups
    val a = all.filter(col("doc_id") < 20)
    val b = all.filter(col("doc_id") >= 20)
    val dir = java.nio.file.Files.createTempDirectory("mh_index_seg").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, a), dir)
    val delta = Dedup.minhashIndex(spark, b)
    assert(MinhashIndex.appendSegment(delta, dir, "batch_1"),
      "first append must commit")
    assert(!MinhashIndex.appendSegment(delta, dir, "batch_1"),
      "replayed append (crash/restart) must be a no-op")
    // the union index equals an index built over the union corpus
    val loaded = MinhashIndex.load(spark, dir)
    val wholesale = Dedup.minhashIndex(spark, all)
    def sigRows(idx: graft.ops.MinhashIndex) =
      idx.sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    def bandRows(idx: graft.ops.MinhashIndex) =
      idx.banded.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sigRows(loaded) == sigRows(wholesale))
    assert(bandRows(loaded) == bandRows(wholesale))
    // parameter mismatch fails loudly (signatures are not comparable)
    val bad = Dedup.minhashIndex(spark, b, k = 32, bands = 8)
    intercept[IllegalArgumentException] {
      MinhashIndex.appendSegment(bad, dir, "batch_2")
    }
    // dot-only names resolve to the index root or a data dir itself:
    // rejected, and the committed index still loads its rows
    for (name <- Seq(".", "..")) {
      intercept[IllegalArgumentException] { MinhashIndex.appendSegment(delta, dir, name) }
      assert(sigRows(MinhashIndex.load(spark, dir)) == sigRows(wholesale))
    }
  }

  test("band index compaction: bit-identical load, crash-safe, vacuum-exact") {
    import graft.ops.MinhashIndex
    val all = docsWithDups
    val parts = (0 until 4).map(i => all.filter(col("doc_id") % 4 === i))
    val dir = java.nio.file.Files.createTempDirectory("mh_compact").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, parts(0)), dir)
    (1 until 4).foreach(i =>
      assert(MinhashIndex.appendSegment(Dedup.minhashIndex(spark, parts(i)),
        dir, s"batch_$i")))
    def sigRows(idx: graft.ops.MinhashIndex) =
      idx.sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    def bandRows(idx: graft.ops.MinhashIndex) =
      idx.banded.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val before = (sigRows(MinhashIndex.load(spark, dir)),
      bandRows(MinhashIndex.load(spark, dir)))

    // crash mid-compact: segment data written but the manifest commit never
    // happens — the old index stays fully readable, the leftover is an
    // invisible orphan. Simulated by writing an unlisted segment directory
    // (exactly the on-disk state a pre-ATOMIC_MOVE crash leaves).
    val live0 = MinhashIndex.load(spark, dir)
    live0.sigs.write.mode("overwrite").parquet(s"$dir/sigs/compacted_crash")
    live0.banded.write.mode("overwrite").parquet(s"$dir/banded/compacted_crash")
    assert(MinhashIndex.readMeta(dir).segments.size == 4, "old manifest intact")
    assert((sigRows(MinhashIndex.load(spark, dir)),
      bandRows(MinhashIndex.load(spark, dir))) == before,
      "crash leftover is invisible to load")

    // real compaction: one live segment, same loaded rows bit for bit
    val seg = MinhashIndex.compact(spark, dir)
    assert(seg.isDefined)
    val metaC = MinhashIndex.readMeta(dir)
    assert(metaC.segments == Seq(seg.get))
    assert(metaC.absorbed.toSet == Set("base", "batch_1", "batch_2", "batch_3"))
    val after = (sigRows(MinhashIndex.load(spark, dir)),
      bandRows(MinhashIndex.load(spark, dir)))
    assert(after == before, "compaction must not change the loaded index")
    // idempotent re-compact of a single segment is a no-op
    assert(MinhashIndex.compact(spark, dir).isEmpty)

    // replayed micro-batch append AFTER compaction stays a no-op (the
    // absorbed record): recomputing would match a batch against its own
    // survivors in the grown index
    assert(!MinhashIndex.appendSegment(Dedup.minhashIndex(spark, parts(1)),
      dir, "batch_1"))

    // vacuum removes exactly the orphans (absorbed dirs + the crash
    // leftover), never the committed segment; the index is unchanged
    val deleted = MinhashIndex.vacuum(dir).toSet
    assert(deleted.contains("sigs/compacted_crash") && deleted.contains("sigs/base"))
    assert(!deleted.contains(s"sigs/${seg.get}") && !deleted.contains(s"banded/${seg.get}"))
    def segDirs(sub: String) = {
      val ds = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
      try { import scala.jdk.CollectionConverters._
        ds.iterator().asScala.map(_.getFileName.toString).toSet
      } finally ds.close()
    }
    assert(segDirs("sigs") == Set(seg.get) && segDirs("banded") == Set(seg.get))
    assert((sigRows(MinhashIndex.load(spark, dir)),
      bandRows(MinhashIndex.load(spark, dir))) == before,
      "vacuum must not change the loaded index")
    // and the compacted index still answers queries: fresh appends + pairs
    assert(MinhashIndex.appendSegment(Dedup.minhashIndex(spark, parts(1)),
      dir, "day_next"), "a NEW segment name still appends after compaction")
  }

  test("ingestIncremental verdicts partition the batch and feed the index delta") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog again"
    val textB = "entirely different content about sailing ships across oceans"
    val textC = "a third unrelated passage describing mountain weather patterns"
    val corpus = Seq((1L, textA)).toDF("doc_id", "text")
    val batch = Seq(
      (2L, textA), // near-dups the corpus -> dropped_corpus, match 1
      (4L, textB), (6L, textB), // in-batch pair -> 4 kept, 6 dropped_batch
      (8L, textC), // unique -> kept
      (9L, "   ") // content-free -> kept, and absent from the index delta
    ).toDF("doc_id", "text")
    val res = Dedup.ingestIncremental(spark,
      Dedup.minhashIndex(spark, corpus), batch, threshold = 0.8)
    val verdicts = res.verdicts.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(verdicts == Map(
      2L -> ("dropped_corpus", 1L),
      4L -> ("kept", -1L),
      6L -> ("dropped_batch", 4L),
      8L -> ("kept", -1L),
      9L -> ("kept", -1L)))
    assert(res.survivors.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(4L, 8L, 9L))
    // the appendable delta holds exactly the content-bearing survivors
    assert(res.batchIndex.sigs.select("id").collect().map(_.getLong(0)).toSet ==
      Set(4L, 8L))
    // and appending it reproduces the next ingest's ground truth: a re-sent
    // survivor text now matches the grown corpus
    val dir = java.nio.file.Files.createTempDirectory("mh_ingest").toString
    graft.ops.MinhashIndex.write(Dedup.minhashIndex(spark, corpus), dir)
    assert(graft.ops.MinhashIndex.appendSegment(res.batchIndex, dir, "day_1"))
    val grown = graft.ops.MinhashIndex.load(spark, dir)
    val day2 = Seq((10L, textB)).toDF("doc_id", "text")
    val matches = Dedup.minhashPairsBetween(grown,
        Dedup.minhashIndex(spark, day2), threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches == Set((4L, 10L)), s"grown index must catch the re-sent text: $matches")
  }

  test("two-phase exact-prepass dedup equals plain near-dedup while the cap is inert") {
    import spark.implicits._
    // docsWithDups + a 50-strong exact clone class: the pre-pass must
    // collapse the clones before banding, and the survivor set must equal
    // keepFirstByPairs over the full minhash pair set (the scaladoc proof:
    // identical sigs => clique at est 1.0 => same component minima)
    val clones = (0 until 50).map(i => (70000L + i, "identical clone text block " * 6))
    val df = docsWithDups.union(clones.toDF("doc_id", "text"))
    val twoPhase = Dedup.keepFirstTwoPhase(spark, df, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Dedup.keepFirstByPairs(spark, df,
        Dedup.minhashPairs(spark, df, threshold = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twoPhase == direct)
    assert(twoPhase.contains(70000L) && !twoPhase.contains(70001L),
      "clone class keeps exactly its min id")
  }

  test("two-phase dedup keeps duplicated content-free docs (minhash parity)") {
    import spark.implicits._
    // the r6-ADVICE break: identical whitespace-only/empty texts share a
    // sha256 (and sha2(null) groups all null-text docs), so an unguarded
    // exact pre-pass drops their non-min members — but minhash drops
    // content-free docs BEFORE banding, so keepFirstByPairs∘minhashPairs
    // keeps them all. Empty pages are routine in real crawls; the pre-pass
    // must mirror the size(sig) > 0 exclusion.
    val df = Seq(
      (1L, "real duplicated content body " * 5),
      (2L, "real duplicated content body " * 5), // genuine exact dup: dropped
      (3L, ""), (4L, ""), // identical empty texts: both kept
      (5L, " \t\n "), (6L, " \t\n "), // identical whitespace-only: both kept
      (7L, null.asInstanceOf[String]), (8L, null.asInstanceOf[String]) // nulls: both kept
    ).toDF("doc_id", "text")
    val twoPhase = Dedup.keepFirstTwoPhase(spark, df, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Dedup.keepFirstByPairs(spark, df,
        Dedup.minhashPairs(spark, df, threshold = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twoPhase == direct, s"two-phase $twoPhase != direct $direct")
    assert(twoPhase == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("n-gram contamination flags exact and partial eval overlap only") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, evalDoc), // identical: all 7 of its word-4-grams shared
      (2L, "prefix words then alpha beta gamma delta and a different tail"), // 1 shared
      (3L, "entirely unrelated content with no shared runs at all here"), // clean
      (4L, "alpha beta gamma"), // < n tokens: no n-gram, never flagged
      (5L, null.asInstanceOf[String]) // null text: never flagged
    ).toDF("doc_id", "text")
    val es = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(spark, corpus, es, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 7L), (2L, 100L, 1L)))
    val kept = Dedup.decontaminate(spark, corpus, es, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    // minShared threshold: requiring 2 shared n-grams clears the
    // single-overlap doc but still drops the identical one
    val strict = Dedup.decontaminate(spark, corpus, es, n = 4, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(2L, 3L, 4L, 5L))
  }

  test("repetition metrics count duplicate words and bigrams exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), // words: 5, dups 3 (a x3, b x2); bigrams: a b, b a, a b, b a -> 2 dup
      (2L, "x"), // single word: no bigrams
      (3L, ""), // empty
      (4L, null.asInstanceOf[String]), // null text
      (5L, "one  two   three"), // multi-space runs collapse to 3 words, all distinct
      (6L, "t t t t") // all same: 3 dup words, bigrams all "t t" -> 2 dup
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.repetitionMetrics(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 5L, 3L, 4L, 2L),
      (2L, 1L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L),
      (4L, 0L, 0L, 0L, 0L),
      (5L, 3L, 0L, 2L, 0L),
      (6L, 4L, 3L, 3L, 2L)))
  }

  test("repeated-passage dedup flags planted shared paragraphs, keeps first") {
    import spark.implicits._
    // w=5; docs 1 and 2 share exactly one 5-token paragraph at different
    // offsets (the cross-doc boilerplate doc-level dedup cannot see);
    // doc 4 repeats its OWN 5-token run; doc 3 and the short doc 5 are clean
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"one two three $shared tail end"),
      (2L, s"different opening $shared"),
      (3L, "entirely unique words with no repeated passage anywhere here"),
      (4L, "a b c d e filler a b c d e"),
      (5L, "too short") // < w tokens: no windows
    ).toDF("doc_id", "text")
    val hits = Dedup.duplicatePassages(spark, docs, w = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    // shared paragraph at pos 3 (doc 1) / pos 2 (doc 2); self-repeat at
    // pos 0 and 6 (doc 4) — and nothing else
    assert(hits == Set((1L, 3, 2L), (2L, 2, 2L), (4L, 0, 2L), (4L, 6, 2L)))
    // the two duplicated-window fingerprints agree across docs
    val byFp = Dedup.duplicatePassages(spark, docs, w = 5)
      .collect().groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byFp.size == 2 && byFp.values.toSet == Set(Set(1L, 2L), Set(4L)))
    // apply: doc 1 holds the canonical (min doc_id) occurrence and stays;
    // doc 2 goes; doc 4's self-repeat is non-canonical and drops it too
    val kept = Dedup.dropPassageDups(spark, docs, w = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // minDupWindows raises the bar: requiring 2 dup windows clears doc 2
    // (one non-canonical window) but doc 4 still has only one -> all kept
    val lax = Dedup.dropPassageDups(spark, docs, w = 5, minDupWindows = 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lax == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("passage strip excises non-canonical windows, keeps the rest byte-exact") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"one two three $shared tail end"), // canonical holder: untouched
      (2L, s"Different OPENING $shared"), // shared run excised, case preserved
      (3L, "entirely  unique   text with irregular spacing kept byte-exact"),
      (4L, "a b c d e filler a b c d e"), // self-repeat: second run excised
      (5L, null.asInstanceOf[String]), // null text: untouched (stays null)
      (6L, shared) // the whole doc is one non-canonical window -> empty
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatePassages(spark, docs, w = 5)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(out(1L) == s"one two three $shared tail end", "canonical doc byte-exact")
    assert(out(2L) == "Different OPENING", "excised run, original case kept")
    assert(out(3L) == "entirely  unique   text with irregular spacing kept byte-exact",
      "untouched docs keep irregular whitespace byte-exact")
    assert(out(4L) == "a b c d e filler", "self-repeat excised")
    assert(out(5L) == null, "null text passes through")
    assert(out(6L) == "", "fully-covered doc becomes empty, row preserved")
    // matching is case-insensitive: doc 2's UPPERCASED shared run still
    // excises (fingerprints lowercase; rebuild preserves the raw tokens)
    val docsU = Seq((1L, s"x y z $shared"), (2L, "p q " + shared.toUpperCase))
      .toDF("doc_id", "text")
    val outU = Dedup.stripDuplicatePassages(spark, docsU, w = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outU(2L) == "p q")
  }

  test("C4 line cleaning applies every published rule") {
    import spark.implicits._
    val docs = Seq(
      // kept content + dropped nav (no terminal punct) + dropped short line
      (1L, "nav menu home\nThis line has enough words to survive the screen.\nToo short."),
      // javascript line dropped case-insensitively; trailing CR/tab trimmed
      (2L, "Enable JAVASCRIPT to proceed now.\nA perfectly fine prose sentence here!\t\r"),
      // lorem-ipsum page kill (line rules would otherwise keep it)
      (3L, "Lorem Ipsum dolor sit amet consectetur.\nAnother good long sentence right here."),
      // curly-bracket page kill
      (4L, "A good sentence that would survive cleanly.\nfunction f() { return 1; }"),
      // quote-terminated line kept
      (5L, "He said \"this is the quoted ending line.\"\nshort one."),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val m = TextOps.c4Metrics(docs, minSentences = 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4), r.getString(5))).toMap
    assert(m(1L) == ((3L, 1L, 1L, true,
      "This line has enough words to survive the screen.")))
    assert(m(2L) == ((2L, 1L, 1L, true,
      "A perfectly fine prose sentence here!")), "javascript dropped, CR/tab trimmed")
    assert(m(3L)._4 == false && m(3L)._2 == 2L, "lorem ipsum kills the page")
    assert(m(4L)._4 == false, "curly bracket kills the page")
    assert(m(5L) == ((2L, 1L, 1L, true,
      "He said \"this is the quoted ending line.\"")), "quote-terminated kept")
    assert(m(6L) == ((1L, 0L, 0L, false, "")), "null text -> empty, page fails")
  }

  test("token-frequency quality scores common vocabulary high, gibberish low") {
    import spark.implicits._
    // vocabulary dominated by "the cat sat" variants; docs 4-5 are
    // out-of-vocabulary gibberish; doc 6 content-free (zero tokens)
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat near the cat"),
      (3L, "THE CAT sat"), // case-insensitive tokenization
      (4L, "zzq wxv qqj zzq"),
      (5L, "mmx kkz"),
      (6L, "   ")
    ).toDF("doc_id", "text")
    val out = TextOps.tokenFrequencyQuality(docs, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // counts: the=5 cat=4 sat=3 zzq=2, then a 1-count tail whose
    // (count desc, token asc) tie-break picks kkz -> top5 = the, cat,
    // sat, zzq, kkz (the deterministic rank-k boundary)
    assert(out(1L) == ((6L, 4L)), "the x2 + cat + sat common; on/mat not")
    assert(out(3L) == ((3L, 3L)), "case-insensitive: THE CAT count as common")
    assert(out(4L) == ((4L, 2L)), "multiplicity: both zzq occurrences count")
    assert(out(5L) == ((2L, 1L)), "kkz sits exactly on the rank-5 boundary")
    assert(out(6L) == ((0L, 0L)), "content-free doc scores (0, 0)")
  }

  test("line dedup strips non-canonical duplicated lines, keeps raw bytes") {
    import spark.implicits._
    val boiler = "Subscribe to our newsletter today!"
    val docs = Seq(
      (1L, s"Unique opening line one.\n$boiler\nUnique closing line one."),
      // same boilerplate at a different position, CASE + edge-whitespace
      // variant: normalization must collide them
      (2L, s"  ${boiler.toUpperCase}\t\nUnique middle line two."),
      (3L, "Totally unique document.\n\nWith an empty separator line kept."),
      // a doc repeating its OWN line: first occurrence canonical, repeat excised
      (4L, "repeat me now\nsomething else entirely\nrepeat me now"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val dups = Dedup.duplicateLines(spark, docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSet
    assert(dups == Set((1L, 1, 2L), (2L, 0, 2L), (4L, 0, 2L), (4L, 2, 2L)))
    val out = Dedup.stripDuplicateLines(spark, docs)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(out(1L) == s"Unique opening line one.\n$boiler\nUnique closing line one.",
      "canonical holder byte-exact")
    assert(out(2L) == "Unique middle line two.", "case/whitespace variant excised")
    assert(out(3L) == "Totally unique document.\n\nWith an empty separator line kept.",
      "untouched doc byte-exact incl. empty line")
    assert(out(4L) == "repeat me now\nsomething else entirely", "self-repeat excised")
    assert(out(5L) == null, "null text passes through")
    // incremental face: batch lines already in the corpus fps match the
    // corpus-canonical occurrence
    val corpusFps = Dedup.lineFingerprints(docs)
    val batch = Seq((10L, s"Fresh batch line.\n$boiler")).toDF("doc_id", "text")
    val mrows = Dedup.lineMatchesAgainst(corpusFps, batch)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getInt(4))).toSet
    assert(mrows == Set((10L, 1, 1L, 1)))
  }

  test("index manifests: index.json bytes are pinned for both kinds") {
    import spark.implicits._
    import graft.ops.{IvfIndex, MinhashIndex}
    val docs = Seq((1L, "one two three four five six seven")).toDF("doc_id", "text")
    def manifest(dir: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "index.json")), java.nio.charset.StandardCharsets.UTF_8)
    def pinned(params: String) =
      "{\n  \"format\" : 1,\n" + params +
        "  \"segments\" : [ \"base\", \"day_1\" ],\n  \"absorbed\" : [ ]\n}"
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    val mh = tmp("pin_mh")
    val mhIdx = Dedup.minhashIndex(spark, docs, k = 8, bands = 4, shingleN = 2)
    MinhashIndex.write(mhIdx, mh)
    assert(MinhashIndex.appendSegment(mhIdx, mh, "day_1"))
    assert(manifest(mh) ==
      pinned("  \"k\" : 8,\n  \"bands\" : 4,\n  \"shingle_n\" : 2,\n"))

    val ivf = tmp("pin_ivf")
    val assigned = Seq((1L, Seq(1.0, 0.0), 0)).toDF("neighbor_id", "cvec", "cell")
    IvfIndex.write(IvfIndex(Array(Array(1.0, 0.0)), assigned, 4), ivf)
    assert(IvfIndex.appendSegment(assigned, ivf, "day_1"))
    assert(manifest(ivf) == pinned("  \"n_list\" : 4,\n"))
  }

  test("incremental passage screen matches against a corpus fp set") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      (1L, s"c1 c2 $shared"), // canonical occurrence at (1, 2)
      (3L, s"x $shared") // second corpus occurrence at (3, 1)
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"n1 n2 $shared n3"),
      (12L, "fresh content with nothing shared at all present here")
    ).toDF("doc_id", "text")
    val corpusFps = Dedup.passageFingerprints(corpus, w = 5)
    // one row per matched batch window, against the corpus CANONICAL
    // occurrence (min (doc_id, pos)) — never one per corpus occurrence
    val m = Dedup.passageMatchesAgainst(corpusFps, batch, w = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getInt(4)))
    assert(m.toSeq == Seq((10L, 2, 1L, 2)))
  }

  test("url canonicalization: case, ports, tracking params, slash, fragment") {
    import spark.implicits._
    val cases = Seq(
      // scheme/host lowered, default https port stripped, fragment gone,
      // trailing slash gone; PATH CASE PRESERVED
      (1L, "HTTPS://WWW.Example.COM:443/Path/Sub/?utm_source=a&id=7&fbclid=x#frag"),
      (2L, "http://host.org:80/"),
      (3L, "http://host.org:8080/x"), // non-default port kept
      (4L, "https://a.com/x?id=1&ref=2&utm_campaign=c&gclid"), // order kept, bare gclid dropped
      (5L, "https://a.com/x?utm_source=only"), // '?' dropped when nothing remains
      (6L, "not a url at all #tail"), // passthrough minus fragment
      (7L, null.asInstanceOf[String]),
      (8L, "https://a.com/utm_source/x") // utm in the PATH is untouched
    ).toDF("doc_id", "url")
    val got = cases.select(col("doc_id"),
        graft.ops.TextOps.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = Seq(1L -> "https://www.example.com/Path/Sub?id=7",
      2L -> "http://host.org", 3L -> "http://host.org:8080/x",
      4L -> "https://a.com/x?id=1&ref=2", 5L -> "https://a.com/x",
      6L -> "not a url at all ", 7L -> "", 8L -> "https://a.com/utm_source/x").toMap
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got '${got(id)}', want '$e'")
    }
  }

  test("canonicalUrl and scrubPii are idempotent and total on hostile strings") {
    import spark.implicits._
    // canonical forms are fixpoints (re-canonicalizing/re-scrubbing is the
    // identity) and neither op may throw on arbitrary unicode — the
    // operators run over raw crawl text. Seeded pseudorandom strings over
    // a hostile alphabet (separators, regex metachars, '@', dots, digits,
    // schemes, surrogate-free unicode) plus targeted edge strings.
    val rng = new scala.util.Random(42)
    val alphabet = "ab:/?#&=.@+-%_ \t\n…•１２ＡαИ中 <>()[]{}|\\^$*"
    val rand = (0 until 300).map { i =>
      (i.toLong, (0 until rng.nextInt(60)).map(_ =>
        alphabet(rng.nextInt(alphabet.length))).mkString)
    }
    val edges = Seq(
      (1000L, "https://"), (1001L, "://x"), (1002L, "a@b@c@d.com.com"),
      (1003L, "+1 2+3 4+5 6"), (1004L, "1.2.3.4.5.6.7.8"),
      (1005L, "https://h.com/?"), (1006L, "https://h.com?utm_"),
      (1007L, "HTTP://U:P@H.COM:80/#a#b"), (1008L, ""),
      (1009L, null.asInstanceOf[String]))
    val df = (rand ++ edges).toDF("id", "s")
    val out = df.select(col("id"),
        graft.ops.TextOps.canonicalUrl(col("s")).as("c1"),
        graft.ops.TextOps.scrubPii(col("s")).as("p1"))
      .select(col("id"), col("c1"), col("p1"),
        graft.ops.TextOps.canonicalUrl(col("c1")).as("c2"),
        graft.ops.TextOps.scrubPii(col("p1")).as("p2"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(3),
        s"canonicalUrl not idempotent on id=${r.getLong(0)}: " +
          s"'${r.getString(1)}' -> '${r.getString(3)}'")
      assert(r.getString(2) == r.getString(4),
        s"scrubPii not idempotent on id=${r.getLong(0)}")
    }
    // gopher metrics are total on the same hostile inputs
    assert(graft.ops.TextOps.gopherMetrics(df, idCol = "id", textCol = "s")
      .collect().length == out.length)
  }

  test("pii metrics and scrub mask emails, phones, ips exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach jane.doe+spam@sub.example.org or +44 123 456 7890 from 192.168.0.1 ok"),
      (2L, "two mails a@b.co and c.d@e-f.io here"),
      (3L, "no pii in this text at all"),
      (4L, null.asInstanceOf[String]),
      (5L, "10.0.0.1"), // ip at both string edges (\b at start/end)
      (6L, "version 1.2.3.4.5 ok") // the regex takes the first dotted quad
    ).toDF("doc_id", "text")
    val m = graft.ops.TextOps.piiMetrics(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(m(1L) == (1L, 1L, 1L, "reach <EMAIL> or <PHONE> from <IP> ok"))
    assert(m(2L) == (2L, 0L, 0L, "two mails <EMAIL> and <EMAIL> here"))
    assert(m(3L) == (0L, 0L, 0L, "no pii in this text at all"))
    assert(m(4L) == (0L, 0L, 0L, ""))
    assert(m(5L) == (0L, 0L, 1L, "<IP>"))
    assert(m(6L) == (0L, 0L, 1L, "version <IP>.5 ok"))
  }

  test("gopher metrics tally exactly") {
    import spark.implicits._
    // 13 words x 10: mean word length 400/130 ~ 3.08, 80 stop hits -> pass
    val prose = Seq.fill(10)("the cat and dog have fun with that toy to be of note")
      .mkString(" ")
    val docs = Seq(
      (1L, prose), // passes every gate
      (2L, Seq.fill(12)("• bullet item line").mkString("\n")), // all-bullet: fails
      (3L, Seq.fill(60)("# word").mkString(" ")), // 60 '#' of 120 words: symbol fail
      (4L, "too short to pass the word floor"), // < 50 words
      (5L, null.asInstanceOf[String]), // 0 words
      (6L, Seq.fill(10)("trailing thought...").mkString("\n")), // all-ellipsis: fails
      (7L, "• alpha beta...\ngamma # delta…\nplain line") // hand-tallied below
    ).toDF("doc_id", "text")
    val m = graft.ops.TextOps.gopherMetrics(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // hand tally for doc 7: 8 words (•, alpha, beta..., gamma, #, delta…,
    // plain, line) of total length 34; 6 contain a letter; symbols = one
    // '#' + one '…' + one "..." = 3; 3 lines, 1 bullet-start, 2 ellipsis-end
    val r7 = m(7L)
    assert((r7.getLong(1), r7.getLong(2), r7.getLong(3), r7.getLong(4), r7.getLong(5),
      r7.getLong(6), r7.getLong(7), r7.getLong(8)) == (8L, 34L, 0L, 6L, 3L, 3L, 1L, 2L))
    val passes = m.collect { case (id, r) if r.getBoolean(9) => id }.toSet
    assert(passes == Set(1L))
    // per-gate non-vacuity: each crafted failure fails for its own reason
    assert(m(2L).getLong(7) * 10 > m(2L).getLong(6) * 9, "doc 2 trips the bullet gate")
    assert(m(3L).getLong(5) * 10 > m(3L).getLong(1), "doc 3 trips the symbol gate")
    assert(m(6L).getLong(8) * 10 > m(6L).getLong(6) * 3, "doc 6 trips the ellipsis gate")
  }

  test("hash-bernoulli sampling is deterministic, partition-invariant, nested") {
    import spark.implicits._
    val docs = (1L to 400L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val key = Sampling.md5Nibble(col("doc_id"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = ids(Sampling.bernoulliByHash(docs, key, 2, 16))
    // the selected SET is a function of ids alone — partitioning-invariant
    // (df.sample draws per-partition and would differ here)
    assert(s2 == ids(Sampling.bernoulliByHash(docs.repartition(7), key, 2, 16)))
    // slices nest: the 1/16 sample is a strict subset of the 2/16 sample
    val s1 = ids(Sampling.bernoulliByHash(docs, key, 1, 16))
    assert(s1.subsetOf(s2) && s1.size < s2.size)
    assert(s2.nonEmpty && s2.size < 400)
    // the production xxhash64 key: same invariance
    val xkey = xxhash64(col("doc_id"))
    assert(ids(Sampling.bernoulliByHash(docs, xkey, 10, 100)) ==
      ids(Sampling.bernoulliByHash(docs.repartition(5), xkey, 10, 100)))
  }

  test("stratified quota keeps min(n, stratum size) rows with a bounded exchange") {
    import spark.implicits._
    val docs = (1L to 100L)
      .map(i => (i, if (i <= 70) "en" else if (i <= 95) "de" else "fr"))
      .toDF("doc_id", "lang")
    val hash = md5(col("doc_id").cast("string"))
    val q = Sampling.stratifiedQuota(docs, col("lang"), 10, hash, col("doc_id"))
    val counts = q.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 10L, "de" -> 10L, "fr" -> 5L))
    // deterministic under repartitioning, including the rank values
    val a = q.select("lang", "doc_id", "sample_rank").collect().toSet
    val b = Sampling.stratifiedQuota(docs.repartition(9), col("lang"), 10,
        hash, col("doc_id"))
      .select("lang", "doc_id", "sample_rank").collect().toSet
    assert(a == b)
    // the rank<=n filter reaches the map side: WindowGroupLimit bounds the
    // rows entering the stratum exchange to n per partition per stratum
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("minhash bucket cap salts a giant duplicate class with ~no recall loss") {
    import spark.implicits._
    // 60 identical docs: every band puts the whole class in ONE bucket; at
    // cap 16 each splits into nsplit=4 salted sub-buckets hashed on
    // (id, band), so splits decorrelate across the 32 bands — exact-dup
    // recall 1-(3/4)^32 ≈ 0.9999. Non-clone pairs must be unaffected.
    val clones = (0 until 60).map(i => (60000L + i, "identical clone text block " * 8))
    val df = docsWithDups.union(clones.toDF("doc_id", "text"))
    val cloneIds = clones.map(_._1).toSet
    def run(cap: Int) = Dedup.minhashPairs(spark, df, k = 128, bands = 32,
      threshold = 0.5, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run(16)
    val uncapped = run(Int.MaxValue)
    val clonePairs = capped.count { case (x, y) => cloneIds(x) && cloneIds(y) }
    assert(clonePairs >= 1760, s"expected ~1770 clone pairs, got $clonePairs")
    assert(capped.subsetOf(uncapped), "capping may only drop pairs, never invent them")
    def nonClone(s: Set[(Long, Long)]) = s.filterNot { case (x, y) => cloneIds(x) && cloneIds(y) }
    assert(nonClone(capped) == nonClone(uncapped),
      "salting a hot bucket must not affect pairs outside the duplicate class")
    // the cross operator: the clones split 30/30 between corpus and batch.
    // Its oversized count runs over corpus ∪ batch, so at cap 16 every
    // clone bucket again splits into nsplit=4 and a cross clone pair
    // survives with prob 1-(3/4)^32 — ~all 900 of them must.
    val (cloneA, cloneB) = clones.splitAt(30)
    val corpus = docsWithDups.filter(col("doc_id") < 100000L)
      .union(cloneA.toDF("doc_id", "text"))
    val batch = docsWithDups.filter(col("doc_id") >= 100000L)
      .union(cloneB.toDF("doc_id", "text"))
    def runCross(cap: Int) = Dedup.minhashPairsIncremental(spark, corpus, batch, k = 128,
      bands = 32, threshold = 0.5, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossCapped = runCross(16)
    val crossUncapped = runCross(Int.MaxValue)
    assert(crossCapped.subsetOf(crossUncapped),
      "cross capping may only drop pairs, never invent them")
    val crossClonePairs = crossCapped.count { case (x, y) => cloneIds(x) && cloneIds(y) }
    assert(crossClonePairs >= 891, s"expected ~900 cross clone pairs, got $crossClonePairs")
    assert(nonClone(crossCapped).nonEmpty, "the injected cross duplicates must still pair")
    assert(nonClone(crossCapped) == nonClone(crossUncapped),
      "salting a hot bucket must not affect cross pairs outside the duplicate class")
  }

  test("content-free docs never pair in minhash or simhash dedup") {
    import spark.implicits._
    // 40 null/empty/whitespace-only docs: pre-fix these all shared one
    // degenerate signature (single empty shingle / simhash 0) and emitted
    // an O(n²) pair set at est_jaccard 1.0 / hamming 0 — a shuffle-skew
    // bomb at corpus scale. Post-fix they are dropped before banding.
    val junk = (0 until 40).map { i =>
      (9000L + i, i % 4 match {
        case 0 => null: String
        case 1 => ""
        case 2 => "   "
        case _ => "\t\n "
      })
    }
    val df = docsWithDups.union(junk.toDF("doc_id", "text"))
    val junkIds = junk.map(_._1).toSet
    val mh = Dedup.minhashPairs(spark, df, k = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!mh.exists(p => junkIds(p._1) || junkIds(p._2)),
      "content-free docs must not appear in minhash pairs")
    assert(mh.exists { case (a, b) => a == 0L || b == 100001L },
      "real duplicate pairs still found with junk present")
    val sh = Dedup.simhashPairs(spark, df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!sh.exists(p => junkIds(p._1) || junkIds(p._2)),
      "content-free docs must not appear in simhash pairs")
    assert(sh.exists { case (a, b) => b == 100001L || a == 100001L },
      "real exact-dup pair still found with junk present")
  }

  test("simhash blocking finds exact duplicates (hamming 0)") {
    val pairs = Dedup.simhashPairs(spark, docsWithDups, maxHamming = 3).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall(_.getAs[Number](2).intValue <= 3))
    assert(pairSet.exists { case (a, b) => b == 100001L }, "exact dup must collide")
  }

  /** The sf corpus is near-orthogonal (max pairwise cosine ≈ 0.5), so a
    * recall test needs planted near-duplicates: copy the first 60 vectors
    * with noise orthogonalized against the original and scaled to 0.25·|v|,
    * giving exact cosine 1/sqrt(1+0.25²) ≈ 0.970 per planted pair.
    */
  private def embWithNearDups = {
    import spark.implicits._
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def noise(seed: Long, dim: Int): Array[Double] = {
      var s = seed
      Array.fill(dim) {
        s += 0x9E3779B97F4A7C15L
        var z = s
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        ((z ^ (z >>> 31)) >>> 11) * 1.1102230246251565e-16 - 0.5
      }
    }
    val planted = base.take(60).map { case (id, v) =>
      val vd = v.map(_.toDouble)
      val n0 = noise(id, vd.length)
      val vv = vd.map(x => x * x).sum
      val proj = n0.zip(vd).map { case (a, b) => a * b }.sum / vv
      val orth = n0.zip(vd).map { case (a, b) => a - proj * b } // exactly ⊥ v
      val on = math.sqrt(orth.map(x => x * x).sum)
      val scale = 0.25 * math.sqrt(vv) / on
      val out = vd.zip(orth).map { case (a, b) => (a + scale * b).toFloat }
      (id + 100000L, out)
    }
    (base ++ planted).toSeq.toDF("vec_id", "embedding")
  }

  test("banded LSH recovers planted near-duplicates with recall >= 0.9") {
    val emb = embWithNearDups
    val lsh = Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
      minCosine = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth over all pairs at the same threshold
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("v_a").cast("array<double>"),
        col("v_b").cast("array<double>")))
      .filter(col("cos") >= 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 60, s"expected >=60 planted pairs above 0.9, got ${brute.size}")
    assert(lsh.subsetOf(brute), "LSH pairs must verify against exact cosine")
    val recall = lsh.size.toDouble / brute.size
    info(s"banded LSH recall (nBits=12, nTables=16): $recall (${lsh.size}/${brute.size})")
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("embedding-cosine near-dedup applies end to end (cluster + keep)") {
    val emb = embWithNearDups
    // pairs at 0.9: exactly the planted (id, id+100000) duplicates — the
    // base corpus is near-orthogonal (max pairwise cos ≈ 0.5) and the
    // orthogonalized noise keeps planted-vs-planted below threshold too,
    // so every component is one isolated pair and the expected loser set
    // is derivable from the pair list without re-running the operator
    val pairs = Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
      minCosine = 0.9)
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty, "planted near-dups must surface as pairs")
    pairRows.foreach { case (a, b) =>
      assert(b == a + 100000L, s"unexpected non-planted pair ($a,$b)")
    }
    val losers = pairRows.map(_._2).toSet
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.keepFirstByPairs(spark, emb, pairs, idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == allIds -- losers,
      s"cosine near-dedup must keep min-id survivors + unpaired vectors")
  }

  test("salt splits decorrelate across tables (identical-cluster recall)") {
    import spark.implicits._
    // 120 IDENTICAL vectors land in the same bucket of EVERY table; at
    // cap 64 each bucket splits into nsplit=2 salted sub-buckets. The salt
    // hashes (id, tbl): splits decorrelate, so a pair separated in one
    // table collides in another — recall 1-(1/2)^nTables ≈ 0.996. An
    // id-only salt splits identically in all tables and recall collapses
    // to the within-salt half (~0.5) — the round-4 OpsScale finding.
    val hot = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("embedding")).as[Array[Float]].head()
    val cluster = (0 until 120).map(i => (50000L + i, hot))
    val pairs = Similarity.lshNearNeighbors(spark, cluster.toDF("vec_id", "embedding"),
      nBits = 2, nTables = 8, minCosine = 0.99, bucketCap = 64).count()
    val expected = 120L * 119 / 2
    val recall = pairs.toDouble / expected
    info(s"identical-cluster recall under forced salting: $recall ($pairs/$expected)")
    assert(recall >= 0.9, s"recall $recall — salt splits must decorrelate across tables")
  }

  test("LSH bucket cap salts oversized buckets without breaking verification") {
    val emb = embWithNearDups
    // nBits=2 → 4 buckets/table, every bucket oversized at cap 16: forces
    // the salted-overflow path; output must still be exact-cosine-verified
    val capped = Similarity.lshNearNeighbors(spark, emb, nBits = 2, nTables = 4,
      minCosine = 0.9, bucketCap = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.lshNearNeighbors(spark, emb, nBits = 2, nTables = 4,
      minCosine = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full), "salting may only drop cross-salt pairs, never invent")
    assert(capped.nonEmpty, "planted near-dups should still collide under the cap")
  }

  test("IVF top-k recovers planted nearest neighbors with recall >= 0.9") {
    import spark.implicits._
    val emb = embWithNearDups
    val queries = emb.filter(col("vec_id") >= 100000L)
    val out = Similarity.ivfTopK(spark, emb, queries, k = 1, nList = 16, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each planted query's true nearest neighbor is its source vector
    // (cos ≈ 0.970 vs background max ≈ 0.5)
    val hits = out.count { case (qid, nid) => nid == qid - 100000L }
    val recall = hits.toDouble / 60
    info(s"IVF recall@1 (nList=16, nProbe=4): $recall ($hits/60)")
    assert(recall >= 0.9, s"recall $recall below 0.9")
    // probing every cell must reproduce the brute-force verdict exactly
    val full = Similarity.ivfTopK(spark, emb, queries, k = 1, nList = 16, nProbe = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.forall { case (qid, nid) => nid == qid - 100000L },
      "nProbe = nList must equal exact search on the planted pairs")
  }

  test("persisted IVF index: loaded search equals direct ivfTopK bit-exactly") {
    import graft.ops.IvfIndex
    val emb = embWithNearDups
    val queries = emb.filter(col("vec_id") >= 100000L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = rows(Similarity.ivfTopK(spark, emb, queries, k = 3, nList = 16, nProbe = 4))
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    IvfIndex.write(Similarity.ivfIndex(spark, emb, nList = 16), dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.nList == 16 && loaded.centroids.length == 16)
    val fed = rows(Similarity.ivfTopKFromIndex(loaded, queries, k = 3, nProbe = 4))
    assert(fed.nonEmpty && fed == direct,
      "write -> load -> search must be bit-identical to the direct operator")
  }

  test("IVF index append: new vectors assigned to frozen centroids are searchable") {
    import graft.ops.IvfIndex
    val emb = embWithNearDups
    // day 0: index only the base corpus; day 1: append the planted
    // near-dup copies assigned against the FROZEN centroids (FAISS add())
    val base = emb.filter(col("vec_id") < 100000L)
    val planted = emb.filter(col("vec_id") >= 100000L)
    val dir = java.nio.file.Files.createTempDirectory("ivf_add").toString
    IvfIndex.write(Similarity.ivfIndex(spark, base, nList = 16), dir)
    val day0 = IvfIndex.load(spark, dir)
    val delta = Similarity.assignVectors(day0.centroids, planted)
    assert(IvfIndex.appendSegment(delta, dir, "day_1"))
    assert(!IvfIndex.appendSegment(delta, dir, "day_1"), "replay must be a no-op")
    val grown = IvfIndex.load(spark, dir)
    assert(grown.assigned.count() == emb.count())
    // the appended vectors are found: each base query's nearest neighbor
    // is its planted copy (cos ~0.970 vs background ~0.5), same recall
    // bar as the direct-operator test
    val queries = base.orderBy(col("vec_id")).limit(60)
    val out = Similarity.ivfTopKFromIndex(grown, queries, k = 1, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = out.count { case (qid, nid) => nid == qid + 100000L }
    assert(hits >= 54, s"appended near-dups must be retrievable: $hits/60")
    // centroids are frozen: the grown index's matrix is day 0's, bit-exact
    assert(grown.centroids.length == day0.centroids.length &&
      grown.centroids.zip(day0.centroids).forall { case (a, b) => a.sameElements(b) })

    // compaction: the two assigned segments rewrite into one; loaded rows,
    // centroids and search results are unchanged; absorbed names keep the
    // day_1 replay a no-op; vacuum reclaims exactly the absorbed dirs
    def assignedRows(idx: graft.ops.IvfIndex) =
      idx.assigned.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toVector, r.getInt(2))).toSet
    val beforeRows = assignedRows(grown)
    val seg = IvfIndex.compact(spark, dir)
    assert(seg.isDefined)
    val metaC = IvfIndex.readMeta(dir)
    assert(metaC.segments == Seq(seg.get) &&
      metaC.absorbed.toSet == Set("base", "day_1"))
    val compacted = IvfIndex.load(spark, dir)
    assert(assignedRows(compacted) == beforeRows)
    assert(compacted.centroids.zip(day0.centroids).forall { case (a, b) =>
      a.sameElements(b) })
    assert(!IvfIndex.appendSegment(delta, dir, "day_1"),
      "replay after compaction must stay a no-op")
    assert(IvfIndex.compact(spark, dir).isEmpty, "single segment: nothing to do")
    val deleted = IvfIndex.vacuum(dir).toSet
    assert(deleted == Set("assigned/base", "assigned/day_1"))
    assert(assignedRows(IvfIndex.load(spark, dir)) == beforeRows)
  }

  test("ANN operators return empty (not throw) on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.lshNearNeighbors(spark, empty).count() == 0)
    assert(Similarity.ivfTopK(spark, empty, empty, k = 3).count() == 0)
  }

  test("brute-force top-k returns k ordered neighbors per query") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.orderBy(col("vec_id")).limit(3)
    val out = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
    assert(out.length == 15)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y }, "descending cosine")
    }
  }

  test("token count column matches the Scala-side definition") {
    import spark.implicits._
    val df = Seq("a b  c", "  ", "one", "x\t y \n z w").toDF("text")
    val got = df.select(TextOps.tokenCount(col("text"))).as[Long].collect().toVector
    assert(got == Vector(3L, 0L, 1L, 4L))
  }

  test("language id covers every corpus language plus script-tier languages") {
    assert(TextOps.classifyLang("the cat and the dog are in the house with food") == "en")
    assert(TextOps.classifyLang("der hund und die katze sind nicht auf dem tisch") == "de")
    assert(TextOps.classifyLang("le chat et le chien sont dans la maison avec les autres") == "fr")
    assert(TextOps.classifyLang("el perro y el gato no están en la casa con los niños") == "es")
    assert(TextOps.classifyLang("il gatto è sulla tavola e anche il cane per la casa di lei") == "it")
    assert(TextOps.classifyLang("o gato não está em casa mais que um cão para os dois") == "pt")
    assert(TextOps.classifyLang("今天天气很好我们一起去公园散步然后吃饭") == "zh")
    assert(TextOps.classifyLang("数据 query 处理 with 中文 mixed 文本 tokens 分析 结果") == "zh",
      "mixed text above 20% CJK letter mass classifies zh")
    assert(TextOps.classifyLang("今日はいい天気ですね。公園へ散歩に行きましょう。") == "ja",
      "kana mass separates Japanese from Chinese")
    assert(TextOps.classifyLang("сегодня хорошая погода и мы идём гулять в парк") == "ru")
    assert(TextOps.classifyLang("zzz qqq www") == "und")
  }

  test("BPE-ish token count splits contractions, digits, symbols, whitespace runs") {
    import spark.implicits._
    // hand-traced against the pattern's leftmost-first alternation
    val cases = Seq(
      ("it's 2024, really!", 6L), // it | 's | _2024 | , | _really | !
      ("naïve café", 2L), // unicode letter runs
      ("a    b", 3L), // a | 4-space \s+ run | b
      ("we'll we've won't", 6L), // we|'ll| we|'ve| won|'t
      ("x=1+2", 5L), // x | = | 1 | + | 2
      ("", 0L),
      ("日本語テキスト", 1L), // one CJK letter run (pre-tokenizer, not BPE vocab)
      ("a\u000Bb", 3L) // vertical tab: explicit ws class (Java \s has it, RE2 \s not)
    )
    val got = cases.map(_._1).toDF("text")
      .select(TextOps.bpeTokenCount(col("text")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._2), s"got $got want ${cases.map(_._2)}")
    // regexp_extract_all agrees with a plain java.util.regex find loop
    val p = java.util.regex.Pattern.compile(TextOps.BpeTokenPattern)
    cases.foreach { case (s, want) =>
      val m = p.matcher(s)
      var n = 0L
      while (m.find()) n += 1
      assert(n == want, s"matcher count for '$s': $n != $want")
    }
  }

  test("multimodal pipeline preserves schema and batch error isolation") {
    val media = Multimodal.syntheticMedia(spark, sfDir, limitN = 50)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 50)
    assert(feats.forall(_.feature.length == 16))
    // image rows carry REAL headers: geometry must match the generator's
    feats.filter(_.kind == "image").foreach { f =>
      assert(f.decode_ok, s"image ${f.media_id} failed decode")
      assert(f.width == 16 + (f.media_id % 640).toInt, s"width off for ${f.media_id}")
      assert(f.height == 16 + ((f.media_id / 7) % 480).toInt)
      assert(Set("png", "gif", "jpeg").contains(f.format))
    }
    assert(feats.map(_.kind).toSet == Set("audio", "image", "video"))
  }

  test("image header decoders recover exact dimensions and isolate corruption") {
    val tail = "payload".getBytes
    assert(Multimodal.decodeImage(Multimodal.pngBytes(641, 479, tail))
      .contains(("png", 641, 479)))
    assert(Multimodal.decodeImage(Multimodal.gifBytes(320, 200, tail))
      .contains(("gif", 320, 200)))
    assert(Multimodal.decodeImage(Multimodal.jpegBytes(1920, 1080, tail))
      .contains(("jpeg", 1920, 1080)))
    // JPEG with an APP0 segment before SOF still parses (segment walk)
    val app0 = Array[Int](0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46).map(_.toByte)
    val sofPart = Multimodal.jpegBytes(64, 48, Array.empty).drop(2)
    assert(Multimodal.decodeImage(app0 ++ sofPart).contains(("jpeg", 64, 48)))
    // corruption: truncated PNG, bad GIF magic, JPEG without SOF
    assert(Multimodal.decodeImage(Multimodal.pngBytes(10, 10, tail).take(20)).isEmpty)
    assert(Multimodal.decodeImage("GIF00a??????".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array[Int](0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)).isEmpty)
    val corrupt = Multimodal.decode(Multimodal.MediaRow(7L, "image", "not an image".getBytes))
    assert(!corrupt.decode_ok && corrupt.width == 0, "corrupt image isolates, never throws")
  }

  test("WAV header decoder recovers channels/rate/duration from the RIFF walk") {
    val data = new Array[Byte](32000) // 1 s of 16 kHz mono 16-bit PCM
    assert(Multimodal.decodeWav(Multimodal.wavBytes(1, 16000, data))
      .contains((1, 16000, 1000L)))
    // stereo 44.1 kHz, half a second (44100*2*2 bytes/s)
    val half = new Array[Byte](44100 * 2) // = 88200/2 bytes
    assert(Multimodal.decodeWav(Multimodal.wavBytes(2, 44100, half))
      .contains((2, 44100, 500L)))
    assert(Multimodal.decodeWav(Multimodal.wavBytes(2, 8000, Array.empty))
      .contains((2, 8000, 0L)), "empty data chunk decodes with zero duration")
    // corruption: bad magic, truncated header
    assert(Multimodal.decodeWav("RIFFxxxxWAVX-not-a-wav-really-at-all-here...".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Multimodal.wavBytes(1, 8000, Array.empty).take(20)).isEmpty)
    val corrupt = Multimodal.decode(Multimodal.MediaRow(8L, "audio", "noise".getBytes))
    assert(!corrupt.decode_ok && corrupt.sample_rate == 0, "corrupt audio isolates")
  }

  test("MP4 header decoder recovers geometry/duration from the box walk") {
    val tail = "mdat-body".getBytes
    assert(Multimodal.decodeMp4(Multimodal.mp4Bytes(1920, 1080, 1000, 2500L, tail))
      .contains((1920, 1080, 2500L)))
    // non-1000 timescale: 600 units/s, 1200 units -> 2000 ms
    assert(Multimodal.decodeMp4(Multimodal.mp4Bytes(640, 360, 600, 1200L, Array.empty))
      .contains((640, 360, 2000L)))
    // corruption: missing ftyp, truncated moov
    assert(Multimodal.decodeMp4("not an mp4 file at all".getBytes).isEmpty)
    assert(Multimodal.decodeMp4(Multimodal.mp4Bytes(64, 64, 1000, 1L, tail).take(30)).isEmpty)
    val corrupt = Multimodal.decode(Multimodal.MediaRow(9L, "video", "noise".getBytes))
    assert(!corrupt.decode_ok && corrupt.duration_ms == 0L, "corrupt video isolates")
  }

  test("MP4 decoder handles version-1 boxes, largesize, and box-to-end") {
    // hand-built ISO-BMFF with v1 mvhd/tkhd (64-bit times) and a moov
    // carried in a size==1 largesize box — the paths mp4Bytes never emits
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val mvhdV1 = {
      val content = Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++
        be32(90000L) ++ be64(450000L) ++ // timescale 90k, duration 5 s
        be32(0x00010000L) ++ new Array[Byte](76)
      be32(8L + content.length) ++ cc("mvhd") ++ content
    }
    val tkhdV1 = {
      val content = Array[Byte](1, 0, 0, 0) ++ be64(0L) ++ be64(0L) ++
        be32(1L) ++ be32(0L) ++ be64(450000L) ++ new Array[Byte](52) ++
        be32(1280L << 16) ++ be32(720L << 16)
      be32(8L + content.length) ++ cc("tkhd") ++ content
    }
    val trak = be32(8L + tkhdV1.length) ++ cc("trak") ++ tkhdV1
    val moovContent = mvhdV1 ++ trak
    // moov as a largesize box: size field == 1, 64-bit size after the type
    val moov = be32(1L) ++ cc("moov") ++ be64(16L + moovContent.length) ++ moovContent
    val ftyp = be32(16L) ++ cc("ftyp") ++ cc("isom") ++ be32(0L)
    // trailing mdat with size==0 (extends to end of file)
    val mdat = be32(0L) ++ cc("mdat") ++ "tail".getBytes
    val bytes = ftyp ++ moov ++ mdat
    assert(Multimodal.decodeMp4(bytes).contains((1280, 720, 5000L)),
      s"v1+largesize decode failed: ${Multimodal.decodeMp4(bytes)}")
  }

  test("WAV decoder skips unknown chunks and honors word alignment") {
    // RIFF with a 3-byte odd-sized LIST chunk (padded to 4) before fmt/data
    val data = new Array[Byte](16000) // 0.5 s of 16 kHz mono 16-bit
    val base = Multimodal.wavBytes(1, 16000, data)
    val odd = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0) // 3+pad
    val out = new Array[Byte](base.length + odd.length)
    System.arraycopy(base, 0, out, 0, 12) // RIFF..WAVE
    System.arraycopy(odd, 0, out, 12, odd.length)
    System.arraycopy(base, 12, out, 12 + odd.length, base.length - 12)
    assert(Multimodal.decodeWav(out).contains((1, 16000, 500L)),
      s"odd-chunk walk failed: ${Multimodal.decodeWav(out)}")
  }

  test("synthetic media decodes end-to-end across all three modalities") {
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, sfDir, limitN = 60)).collect()
    assert(feats.length == 60 && feats.forall(_.decode_ok))
    feats.filter(_.kind == "audio").foreach { f =>
      assert(f.format == "wav" && f.channels == 1 + (f.media_id % 2).toInt)
      assert(f.sample_rate == 8000 * (1 + (f.media_id % 6)).toInt)
    }
    feats.filter(_.kind == "video").foreach { f =>
      assert(f.format == "mp4" && f.width == 160 + (f.media_id % 1280).toInt)
      assert(f.duration_ms == 500L + f.media_id % 120000L)
      assert(f.n_frames == math.max(1L, f.duration_ms * 30L / 1000L).toInt)
    }
  }
}
