package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Dedup/ANN under dup-heavy amplified load (round-4 VERDICT item 6): the
  * per-round bench runs at sf0.1 where candidate sets are tiny; this tool
  * amplifies the sf0.1 corpus AMP× with planted duplicate classes and
  * logs the numbers that evidence the scale design under load:
  *
  *  - minhash: band-bucket size distribution (max/p99/occupied), candidate
  *    pairs before/after the id-distinct, verified output pairs, wall;
  *  - LSH: occupied (tbl,bucket) sizes, oversized-bucket count at the cap,
  *    salted sub-bucket fanout, candidate/verified pairs, wall — including
  *    a planted 5000-vector identical cluster that MUST trip the cap.
  *
  * Usage: SPARK_GRAFT_AMPLIFY=10 sbt "runMain graft.tools.OpsScale [sfDir]"
  * Output: OPSSCALE lines (one per metric block) — recorded in the Bench
  * template's static context after a clean-window run.
  */
object OpsScale {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else ToolSession.sf("sf0.1")
    val amp = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "10").toInt
    val spark = ToolSession()
    import spark.implicits._

    // ---- dup-heavy document corpus: AMP near-identical copies per doc ----
    // copy 0 is the original; copies 1.. mutate one token per 40 so each
    // class is a genuine near-dup cluster (est_jaccard well above 0.5)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val nBase = docs.count()
    val amped = docs.flatMap { case (id, text) =>
      (0 until amp).iterator.map { k =>
        val t =
          if (k == 0 || text == null) text
          else {
            val toks = text.split(" ")
            var i = k % 40
            while (i < toks.length) { toks(i) = s"mut${k}x$i"; i += 40 }
            toks.mkString(" ")
          }
        (id * amp + k, t)
      }
    }.toDF("doc_id", "text").localCheckpoint()
    val nDocs = amped.count()
    println(s"OPSSCALE corpus docs=$nDocs (base=$nBase amp=$amp)")

    // ---- minhash bucket distribution + candidate funnel ----
    import graft.functions.DedupFunctions
    val k = 64; val bands = 16
    val sigs = amped.select(col("doc_id").cast("long").as("id"),
        DedupFunctions.minhashSig(coalesce(col("text"), lit("")), k, 3).as("sig"))
      .filter(size(col("sig")) > 0)
    val banded = sigs.select(col("id"),
      posexplode(DedupFunctions.minhashBandHashes(col("sig"), bands)))
      .toDF("id", "band", "bhash")
    val bstats = banded.groupBy("band", "bhash").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("buckets"), max("n").as("maxb"),
        expr("percentile_approx(n, 0.99)").as("p99"),
        sum(expr("n * (n - 1) / 2")).as("raw_pairs")).collect()(0)
    println(s"OPSSCALE minhash buckets=${bstats.getLong(0)} max_bucket=${bstats.getLong(1)} " +
      s"p99_bucket=${bstats.getLong(2)} raw_candidate_pairs=${java.lang.Math.round(bstats.getDouble(3))}")

    val t0 = System.nanoTime()
    val mh = Dedup.minhashPairs(spark, amped, threshold = 0.5).localCheckpoint()
    val mhPairs = mh.count()
    val mhWall = (System.nanoTime() - t0) / 1e9
    // distinct candidate pairs (the post-distinct, pre-verify funnel stage)
    val a = banded.select(col("band"), col("bhash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bhash"), col("id").as("id_b"))
    val distinctCands = a.join(b, Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    println(f"OPSSCALE minhash distinct_candidates=$distinctCands verified_pairs=$mhPairs wall=$mhWall%.1fs")

    // ---- near-dup clustering (the apply step) over the amplified pairs ----
    val t2 = System.nanoTime()
    val comps = Dedup.connectedComponents(spark, mh).localCheckpoint()
    val nNodes = comps.count()
    val nClusters = comps.select(col("cluster_id")).distinct().count()
    val compWall = (System.nanoTime() - t2) / 1e9
    // each base doc's AMP near-identical copies should cluster to the base
    // min id (id = base*amp + k -> cluster base*amp) unless cross-class
    // near-dups merge clusters — a handful exist in the base corpus
    val ownBase = comps
      .filter(col("cluster_id") === (col("id") - pmod(col("id"), lit(amp.toLong)))).count()
    println(f"OPSSCALE cluster nodes=$nNodes clusters=$nClusters wall=$compWall%.1fs " +
      f"own_base_fraction=${ownBase.toDouble / nNodes}%.4f")
    require(nClusters < nNodes, "clustering must merge near-dup copies")
    require(ownBase.toDouble / nNodes >= 0.9,
      "most nodes must cluster to their base class min id")

    // ---- quality-aware apply under the same 10x dup load: keep the
    // LONGEST variant per cluster. Survivor count is an exact invariant
    // (one per cluster + every unpaired doc) regardless of which variant
    // wins, so the stress checks both the wall cost of the extra quality
    // join/window and the count identity with keepFirst.
    val t2b = System.nanoTime()
    val bestN = Dedup.keepBestByPairs(spark,
      amped.withColumn("n_chars", length(col("text")).cast("long")), mh).count()
    val bestWall = (System.nanoTime() - t2b) / 1e9
    println(f"OPSSCALE keep_best kept=$bestN/$nDocs wall=$bestWall%.1fs")
    require(bestN == nClusters + (nDocs - nNodes),
      s"keep_best survivors ($bestN) must equal clusters ($nClusters) + unpaired (${nDocs - nNodes})")

    // ---- incremental ingest under the same 10x dup load: corpus = copies
    // 0..amp/2-1, batch = copies amp/2.. of every base doc. Every batch doc
    // is a near-dup of some corpus doc by construction, so the applied
    // ingest must drop (nearly) the whole batch — the recall observable —
    // and the cross band-join must stay bounded like the self-join.
    val half = amp / 2
    val t2c = System.nanoTime()
    val incCorpus = amped.filter(pmod(col("doc_id"), lit(amp.toLong)) < half)
    val incBatch = amped.filter(pmod(col("doc_id"), lit(amp.toLong)) >= half)
    val nBatch = incBatch.count()
    val incKept = Dedup.applyIncremental(spark, incCorpus, incBatch,
      threshold = 0.5).count()
    val incWall = (System.nanoTime() - t2c) / 1e9
    println(f"OPSSCALE incremental batch=$nBatch kept=$incKept wall=$incWall%.1fs " +
      f"dropped_frac=${1.0 - incKept.toDouble / nBatch}%.4f")
    require(incKept.toDouble / nBatch <= 0.05,
      s"nearly every batch doc near-dups the corpus by construction; kept $incKept of $nBatch")

    // ---- index-fed ingest (round-6): the corpus signatures are computed
    // and PERSISTED once; the daily ingest then loads the scalar parquet
    // index and pays zero corpus-side map work. Survivors must be identical
    // to the corpus-fed path; the wall delta is the evidence that the
    // corpus-side tokenize+shingle+signature stage is gone from the ingest.
    val idxDir = java.nio.file.Files.createTempDirectory("opsscale_idx").toString
    val tBuild = System.nanoTime()
    graft.ops.MinhashIndex.write(Dedup.minhashIndex(spark, incCorpus), idxDir)
    val buildWall = (System.nanoTime() - tBuild) / 1e9
    val tFed = System.nanoTime()
    val fedKept = Dedup.applyIncrementalFromIndex(spark,
      graft.ops.MinhashIndex.load(spark, idxDir), incBatch, threshold = 0.5).count()
    val fedWall = (System.nanoTime() - tFed) / 1e9
    println(f"OPSSCALE incremental_indexed kept=$fedKept wall=$fedWall%.1fs " +
      f"vs corpus_fed=$incWall%.1fs (one-time index build+write $buildWall%.1fs)")
    require(fedKept == incKept,
      s"index-fed ingest must keep the same survivors ($fedKept vs $incKept)")

    // ---- two-phase exact pre-pass under a planted exact clone class ----
    // 2000 IDENTICAL docs sit below the 65536 bucket cap, so plain minhash
    // carries their full quadratic pair mass (~2.0M pairs) through the
    // candidate funnel; the exact pre-pass collapses the class to one doc
    // before banding — the funnel shrinks by the whole clone mass and no
    // cap/salting recall question ever arises.
    val cloneDocs = spark.range(2000)
      .select((col("id") + 80000000L).as("doc_id"),
        lit("exact clone body text block repeated " * 24).as("text"))
    val withClones = amped.union(cloneDocs).localCheckpoint()
    def distinctCandidates(df: DataFrame): Long = {
      val s2 = df.select(col("doc_id").cast("long").as("id"),
          DedupFunctions.minhashSig(coalesce(col("text"), lit("")), k, 3).as("sig"))
        .filter(size(col("sig")) > 0).localCheckpoint()
      val bd = s2.select(col("id"),
        posexplode(DedupFunctions.minhashBandHashes(col("sig"), bands)))
        .toDF("id", "band", "bhash")
      bd.select(col("band"), col("bhash"), col("id").as("id_a"))
        .join(bd.select(col("band"), col("bhash"), col("id").as("id_b")),
          Seq("band", "bhash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
    }
    val candsDirect = distinctCandidates(withClones)
    val candsTwoPhase = distinctCandidates(Dedup.keepFirst(withClones))
    val tTp = System.nanoTime()
    val tpKept = Dedup.keepFirstTwoPhase(spark, withClones, threshold = 0.5).count()
    val tpWall = (System.nanoTime() - tTp) / 1e9
    println(f"OPSSCALE two_phase candidates_direct=$candsDirect " +
      f"candidates_after_prepass=$candsTwoPhase " +
      f"funnel_shrink=${candsDirect - candsTwoPhase} kept=$tpKept wall=$tpWall%.1fs")
    require(candsDirect - candsTwoPhase >= 1900000L,
      "the exact pre-pass must remove the clone class's quadratic candidate mass")

    // ---- repeated-passage dedup under boilerplate load (round 7) ----
    // plant one identical 60-token boilerplate paragraph at the END of
    // every 10th doc of the amplified corpus: a cross-doc repeated passage
    // the doc-level operators above cannot see (the surrounding page
    // differs per doc). Each planted doc contributes exactly 11 windows
    // fully inside the paragraph (offsets 0..10 of a 60-token run at
    // w=50), whose union covers all 60 boiler tokens — so the strip must
    // excise the paragraph from every planted doc except the canonical
    // (min doc_id) holder.
    val boiler = (1 to 60).map(i => s"boiler$i").mkString(" ")
    val withBoiler = amped.withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(coalesce(col("text"), lit("")), lit(" " + boiler)))
          .otherwise(col("text")))
      .localCheckpoint()
    val planted = withBoiler.filter(pmod(col("doc_id"), lit(10)) === 0).count()
    val tPw = System.nanoTime()
    val winRows = Dedup.passageFingerprints(withBoiler, w = 50).count()
    val pfWall = (System.nanoTime() - tPw) / 1e9
    val tPh = System.nanoTime()
    val pHits = Dedup.duplicatePassages(spark, withBoiler, w = 50).localCheckpoint()
    val hitRows = pHits.count()
    val hitDocs = pHits.select("doc_id").distinct().count()
    val phWall = (System.nanoTime() - tPh) / 1e9
    val tPs = System.nanoTime()
    val stripped = Dedup.stripDuplicatePassages(spark, withBoiler, w = 50)
      .localCheckpoint()
    val stripWall = (System.nanoTime() - tPs) / 1e9
    val rewritten = stripped
      .join(withBoiler.select(col("doc_id"), col("text").as("_orig")), "doc_id")
      .filter(not(col("text") <=> col("_orig"))).count()
    // boiler60 is the paragraph's unique last token: after the strip only
    // the canonical holder may still carry it
    val boilerSurvivors = stripped.filter(col("text").contains("boiler60")).count()
    println(f"OPSSCALE passages planted=$planted window_rows=$winRows " +
      f"fp_wall=$pfWall%.1fs dup_rows=$hitRows dup_docs=$hitDocs hits_wall=$phWall%.1fs " +
      f"strip_rewritten=$rewritten boiler_survivors=$boilerSurvivors " +
      f"strip_wall=$stripWall%.1fs")
    require(hitDocs >= planted,
      s"every planted doc must be flagged: $hitDocs flagged vs $planted planted")
    require(boilerSurvivors == 1L,
      s"exactly the canonical holder keeps the paragraph, got $boilerSurvivors")
    require(rewritten >= planted - 1,
      s"all non-canonical planted docs must be rewritten: $rewritten")

    // ---- line dedup under boilerplate load (round 7) ----
    // plant one identical boilerplate LINE on every 5th doc (the corpus is
    // single-line, so the planted docs become two-line pages): the line
    // screen must excise it everywhere but the canonical (min (doc_id,
    // line_no)) holder, at one fp row per line instead of one per token
    // position — the cheap tier below passages.
    val boilLine = "subscribe to our newsletter for updates today"
    val withLines = amped.withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(coalesce(col("text"), lit("")), lit("\n" + boilLine)))
          .otherwise(col("text")))
      .localCheckpoint()
    val plantedL = withLines.filter(pmod(col("doc_id"), lit(5)) === 0).count()
    val tLf = System.nanoTime()
    val lineRows = Dedup.lineFingerprints(withLines).count()
    val lfWall = (System.nanoTime() - tLf) / 1e9
    val tLh = System.nanoTime()
    val lHits = Dedup.duplicateLines(spark, withLines).localCheckpoint()
    val lHitRows = lHits.count()
    val lHitDocs = lHits.select("doc_id").distinct().count()
    val lhWall = (System.nanoTime() - tLh) / 1e9
    val tLs = System.nanoTime()
    val lStripped = Dedup.stripDuplicateLines(spark, withLines).localCheckpoint()
    val lsWall = (System.nanoTime() - tLs) / 1e9
    val lRewritten = lStripped
      .join(withLines.select(col("doc_id"), col("text").as("_orig")), "doc_id")
      .filter(not(col("text") <=> col("_orig"))).count()
    val lSurvivors = lStripped.filter(col("text").contains(boilLine)).count()
    println(f"OPSSCALE lines planted=$plantedL line_rows=$lineRows " +
      f"fp_wall=$lfWall%.1fs dup_rows=$lHitRows dup_docs=$lHitDocs hits_wall=$lhWall%.1fs " +
      f"strip_rewritten=$lRewritten line_survivors=$lSurvivors strip_wall=$lsWall%.1fs")
    require(lHitDocs >= plantedL,
      s"every planted doc must be flagged: $lHitDocs flagged vs $plantedL planted")
    require(lSurvivors == 1L,
      s"exactly the canonical holder keeps the line, got $lSurvivors")
    require(lRewritten >= plantedL - 1,
      s"all non-canonical planted docs must be rewritten: $lRewritten")

    // ---- CC at adversarial diameter: a 10k-node path graph ----
    // dup-cluster graphs are near-cliques (diameter 2-3); this is the
    // opposite extreme. Pointer jumping must converge in ~log2(10000)+O(1)
    // rounds where min-label propagation alone needs 10,000 — the direct
    // evidence for the O(log diameter) claim and the maxIter=25 bound.
    val chainN = 10000
    val chain = spark.range(chainN - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val t3 = System.nanoTime()
    val (chainLabels, rounds) = Dedup.connectedComponentsRounds(spark, chain)
    val chainOk = chainLabels.filter(col("cluster_id") === 0L).count()
    val chainWall = (System.nanoTime() - t3) / 1e9
    println(f"OPSSCALE cc_chain nodes=$chainN rounds=$rounds wall=$chainWall%.1fs " +
      s"all_min_label=${chainOk == chainN}")
    require(chainOk == chainN, s"all $chainN chain nodes must take label 0 (got $chainOk)")
    require(rounds <= 20, s"10k-node path must converge in ~log2(d) rounds, took $rounds")

    // ---- LSH under load + a planted cap-tripping cluster ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val baseVecs = emb.collect()
    val dim = baseVecs(0)._2.length
    // AMP near-dup copies (orthogonalized noise, cos ~0.97) + one 5000-
    // vector identical cluster that must overflow the default bucketCap
    val hot = baseVecs(0)._2
    val ampedEmb = emb.flatMap { case (id, v) =>
      (0 until amp).iterator.map { j =>
        if (j == 0) (id * amp, v)
        else {
          var s = id * 1000L + j
          val out = new Array[Float](v.length)
          var i = 0
          while (i < v.length) {
            s += 0x9E3779B97F4A7C15L
            var z = s
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            val n = (((z ^ (z >>> 31)) >>> 11) * 1.1102230246251565e-16 - 0.5) * 0.1
            out(i) = (v(i) + n).toFloat
            i += 1
          }
          (id * amp + j, out)
        }
      }
    }.toDF("vec_id", "embedding")
    val hotCluster = spark.range(5000)
      .select((col("id") + 90000000L).as("vec_id"), typedLit(hot).as("embedding"))
    val allVecs = ampedEmb.union(hotCluster).localCheckpoint()
    val nVecs = allVecs.count()

    // bucket occupancy at the operator's parameters (nBits=12, nTables=16)
    val planes = Similarity.hyperplanes(16 * 12, dim, 42L)
    val lshBuckets = allVecs
      .select(col("vec_id"), posexplode(graft.functions.LshFunctions
        .lshSignatures(col("embedding"), planes, 16, 12)))
      .toDF("id", "tbl", "bucket")
      .groupBy("tbl", "bucket").agg(count(lit(1)).as("n"))
    val cap = 4096
    val lstats = lshBuckets.agg(count(lit(1)).as("buckets"), max("n").as("maxb"),
      sum(when(col("n") > cap, 1).otherwise(0)).as("oversized"),
      sum(when(col("n") > cap, ceil(col("n") / cap)).otherwise(0)).as("salted_subbuckets"))
      .collect()(0)
    println(s"OPSSCALE lsh vecs=$nVecs occupied_buckets=${lstats.getLong(0)} " +
      s"max_bucket=${lstats.getLong(1)} oversized(cap=$cap)=${lstats.getLong(2)} " +
      s"salted_subbuckets=${lstats.getLong(3)}")

    val t1 = System.nanoTime()
    val lsh = Similarity.lshNearNeighbors(spark, allVecs, nBits = 12, nTables = 16,
      minCosine = 0.9, bucketCap = cap).localCheckpoint()
    val lshPairs = lsh.count()
    val lshWall = (System.nanoTime() - t1) / 1e9
    // recall on the planted identical cluster: every pair is at cosine 1.0,
    // so the only losses are salting losses — this is the direct measure of
    // the per-table-decorrelated salt (an id-only salt loses ~1/nsplit of
    // these pairs in EVERY table simultaneously)
    val hotPairs = lsh.filter(col("id_a") >= 90000000L && col("id_b") >= 90000000L).count()
    val hotExpected = 5000L * 4999L / 2L
    println(f"OPSSCALE lsh verified_pairs=$lshPairs wall=$lshWall%.1fs " +
      f"hot_cluster_recall=${hotPairs.toDouble / hotExpected}%.4f ($hotPairs/$hotExpected)")
    require(lstats.getLong(2) > 0, "planted hot cluster must trip the bucket cap")
    require(hotPairs.toDouble / hotExpected >= 0.99,
      "salted-bucket recall on the identical cluster must be ~1 (decorrelated salts)")

    // ---- embedding-cosine near-dedup APPLIED at stress scale ----
    // CC + keep over the ~12.5M-edge pair set above: the 5000-identical
    // cluster is a near-clique (recall >=0.99, so >=4900 edges/node) and
    // MUST collapse to a single component. The planted `hot` vector is a
    // copy of base vector 0, whose amped near-dup copies sit at cos~0.995
    // — the hot component therefore merges with the id-0 class and the
    // canonical survivor is min id 0, i.e. ZERO hot-range survivors.
    val tApply = System.nanoTime()
    val keptVecs = Dedup.keepFirstByPairs(spark, allVecs, lsh, idCol = "vec_id")
      .localCheckpoint()
    val keptN = keptVecs.count()
    val hotKept = keptVecs.filter(col("vec_id") >= 90000000L).count()
    val applyWall = (System.nanoTime() - tApply) / 1e9
    println(f"OPSSCALE cosine_apply kept=$keptN/$nVecs hot_survivors=$hotKept wall=$applyWall%.1fs")
    require(hotKept <= 1L,
      "the 5000-identical cluster must collapse to at most one survivor")
    require(keptN <= nVecs - 4999L,
      "cosine near-dedup must drop the collapsed hot cluster")

    spark.stop()
  }
}
