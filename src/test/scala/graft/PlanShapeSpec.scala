package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity}

/** Physical-plan shape assertions for the scale-critical operators: these
  * pin the EXCHANGE CONTENTS, not just output values, so a regression that
  * keeps results correct but re-amplifies shuffle I/O fails the suite.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** All physical nodes, descending through the AQE wrapper and through
    * finalized query stages (whose subtrees are not in `.children`).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    nodes(df.queryExecution.executedPlan)

  /** The executed plan of every query `body` runs, materializations
    * included. Listener events arrive asynchronously, so a marker query
    * run after `body` closes the capture.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = "plan_capture_marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) closed.countDown()
        else if (closed.getCount > 0) plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "plan capture timed out")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The operators compiled into one whole-stage class: its subtree down
    * to the stage's inputs.
    */
  private def stageOps(w: org.apache.spark.sql.execution.WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: org.apache.spark.sql.execution.InputAdapter => Nil
      case _ => p +: p.children.flatMap(walk)
    }
    walk(w.child)
  }

  test("lshNearNeighbors: the banded candidate exchange carries no vector column") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
      minCosine = 0.35)
    val shuffles = nodes(df).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, "expected shuffle exchanges in the LSH plan")
    // every exchange keyed by the LSH table/bucket (the nTables-amplified
    // candidate stream) must move only scalar id/bucket columns — the
    // embedding may only cross the wire on the id-keyed re-attach joins
    val bucketShuffles = shuffles.filter(_.outputPartitioning.toString.contains("tbl"))
    assert(bucketShuffles.nonEmpty, "expected the (tbl, bucket, salt) candidate exchange")
    bucketShuffles.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"candidate exchange must not carry vectors, found: " +
          arrays.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
    }
    // the signature stage is a native expression + posexplode inside
    // whole-stage codegen — asserted on the projection itself (inside
    // lshNearNeighbors it sits behind the localCheckpoint, which truncates
    // the visible plan)
    val planes = Similarity.hyperplanes(16 * 12, 64, 42L)
    val projStr = emb.select(col("vec_id"),
        posexplode(graft.functions.LshFunctions
          .lshSignatures(col("embedding"), planes, 16, 12)))
      .queryExecution.executedPlan.toString
    assert(projStr.contains("graft_lsh_signatures"), "native expression in the plan")
    assert(!projStr.contains("DeserializeToObject"),
      "signature computation must not break into object serde")
  }

  test("lshNearNeighbors output unchanged by the id-only banding (oracle shape)") {
    // value regression guard riding the same computation: pair set and
    // cosines must match the brute-force pairs above the threshold on the
    // candidate-covered set (every returned pair is exactly verified)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
      minCosine = 0.35).collect()
    got.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs are ordered id_a < id_b")
      assert(r.getDouble(2) >= 0.35)
    }
    assert(got.map(r => (r.getLong(0), r.getLong(1))).distinct.length == got.length,
      "pairs are distinct across tables")
  }

  test("cosine near-dedup clustering starts from materialized edges (no LSH re-run)") {
    // connectedComponents over the LSH pair set (q_dedup_cosine_cluster's
    // shape): the candidate pipeline — signature projection, banding
    // self-join, cosine verify — must execute ONCE at materialization, so
    // the final labels plan is a scan of round state, with NO trace of the
    // upstream pipeline (an unmaterialized edges input re-executes the
    // job's biggest shuffle ~2x per propagation round)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
      minCosine = 0.35)
    val labels = Dedup.connectedComponents(spark, pairs)
    val planStr = labels.queryExecution.executedPlan.toString
    assert(!planStr.contains("graft_lsh_signatures"),
      "LSH signature stage must not be re-planned inside the CC result")
    assert(!planStr.toLowerCase.contains("parquet"),
      "the corpus scan must not appear in the final labels plan")
    assert(nodes(labels).exists(_.nodeName.contains("Scan ExistingRDD")),
      "final labels must read the materialized round state")
    assert(labels.count() > 0, "non-vacuous: the sf corpus has cosine pairs at 0.35")
  }

  test("minhashPairs: the banded exchange carries no signature column") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // broadcast off WHILE the plan is accessed (strategy resolves lazily):
    // at test scale Spark would broadcast the tiny banded side and no
    // exchange would exist to inspect; at corpus scale the banded stream
    // shuffles — that is the shape under assertion
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.ops.Dedup.minhashPairs(spark, docs, threshold = 0.5)
      val shuffles = nodes(df).collect { case e: ShuffleExchangeExec => e }
      // every exchange keyed by the band hash (the bands-amplified candidate
      // stream) must move only scalar columns — the 64-slot signature may
      // only cross the wire on the id-keyed re-attach joins
      val bandShuffles = shuffles.filter(_.outputPartitioning.toString.contains("bhash"))
      assert(bandShuffles.nonEmpty, "expected the (band, bhash) candidate exchange")
      bandShuffles.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"banded exchange must not carry signatures, found: " +
            arrays.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      }
      // the signature projection is a native expression inside codegen —
      // asserted on the projection itself (inside minhashPairs it sits
      // behind the localCheckpoint, which truncates the visible plan)
      val projStr = docs.select(graft.functions.DedupFunctions
          .minhashSig(coalesce(col("text"), lit("")), 64, 3))
        .queryExecution.executedPlan.toString
      assert(projStr.contains("graft_minhash_sig"), "native expression in the plan")
      assert(!projStr.contains("DeserializeToObject"),
        "signature computation must not break into object serde")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental minhash: the cross-side banded exchange carries no signatures") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.ops.Dedup.minhashPairsIncremental(spark,
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), threshold = 0.5)
      val shuffles = nodes(df).collect { case e: ShuffleExchangeExec => e }
      // both sides of the corpus-vs-batch band join move only scalar
      // columns — at ingest scale this is the persisted corpus band index
      // (id + band + hash) joined against the batch's, and signatures may
      // only ride the id-keyed re-attach joins
      val bandShuffles = shuffles.filter(_.outputPartitioning.toString.contains("bhash"))
      assert(bandShuffles.nonEmpty, "expected the cross-side (band, bhash) exchange")
      bandShuffles.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"cross-side banded exchange must not carry signatures, found: " +
            arrays.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", "))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index-fed incremental dedup plans no signature computation at all") {
    import graft.ops.MinhashIndex
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val cDir = java.nio.file.Files.createTempDirectory("plan_cidx").toString
    val bDir = java.nio.file.Files.createTempDirectory("plan_bidx").toString
    MinhashIndex.write(Dedup.minhashIndex(spark, corpus), cDir)
    MinhashIndex.write(Dedup.minhashIndex(spark, batch), bDir)
    // both sides index-fed: the whole cross-pair plan must be parquet scans
    // of scalar index rows — ZERO graft_minhash_sig projections anywhere
    // (the r5 shape re-signatured the corpus from text on every ingest).
    val pairs = Dedup.minhashPairsBetween(
      MinhashIndex.load(spark, cDir), MinhashIndex.load(spark, bDir),
      threshold = 0.5)
    val planStr = pairs.queryExecution.executedPlan.toString
    assert(!planStr.contains("graft_minhash_sig"),
      "index-fed cross pairing must not recompute signatures from text")
    assert(planStr.toLowerCase.contains("parquet"),
      "the candidate sides must be parquet scans of the persisted index")
    assert(pairs.count() > 0, "non-vacuous: the split corpus has cross pairs")
    // the signature-level self-join entry (applyIncremental's in-batch
    // stage): re-bands precomputed sigs with the cheap band fold — the
    // fold expression is in the plan, the shingling expression is NOT
    // (the r5 shape re-shingled the surviving batch docs from text)
    val remIdx = Dedup.indexFromSigs(
      MinhashIndex.load(spark, bDir).sigs, 64, 16, 3)
    val inBatch = Dedup.minhashPairsOfIndex(remIdx, threshold = 0.5)
    val inStr = inBatch.queryExecution.executedPlan.toString
    assert(inStr.contains("graft_minhash_band_hashes"),
      "sig-level banding runs the band fold in-plan")
    assert(!inStr.contains("graft_minhash_sig"),
      "sig-level banding must not re-shingle from text")
  }

  test("contamination: corpus n-grams reach the broadcast join unshuffled") {
    // the eval side is benchmark-sized and broadcast; the 100 TB corpus
    // side must be ONE map-side scan into the join — no exchange may sit
    // below the BroadcastHashJoin (the only shuffles in the plan belong
    // to the count-distinct over MATCHED rows, O(contamination))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.ngramContamination(spark, docs,
      docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 4)
    df.collect() // finalize AQE
    val all = nodes(df)
    val bhjs = all.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.nonEmpty, s"eval n-grams must broadcast: ${all.map(_.nodeName).distinct}")
    bhjs.foreach { j =>
      // the build (eval) side may shuffle its own tiny distinct before the
      // broadcast — that is O(eval); the STREAMED (corpus) side must not
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _ => j.right
      }
      val below = nodes(streamed).collect { case e: ShuffleExchangeExec => e }
      assert(below.isEmpty,
        s"corpus n-grams must not shuffle before the eval join: $below")
      // round 7: the corpus tokenization evaluates ONCE per doc. The old
      // shape projected toks then filtered size(toks) >= n, and Catalyst
      // pushed the filter below the projection, re-inlining the full
      // split/filter lambda — the plan computed the tokenization twice
      // (r6 verdict finding #1: a 2x tax on the operator's only per-corpus
      // map stage). The guard now lives inside the projection, so exactly
      // one split(lower(...)) appears on the streamed side.
      val tokEvals = "split\\(lower\\(".r.findAllIn(streamed.toString).length
      assert(tokEvals == 1,
        s"corpus tokenization must evaluate once on the streamed side, found $tokEvals")
    }
  }

  test("ngramStats: the corpus tokenization evaluates once per doc") {
    // wordNgrams keeps its size guard inside the n-gram projection: a
    // separate size filter would be pushed below the toks projection and
    // re-inline the tokenization into the Filter (two evaluations per doc)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.TextOps.ngramStats(docs)
    df.collect() // finalize AQE
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val tokEvals = "split\\(lower\\(".r.findAllIn(finalPlan.toString).length
    assert(tokEvals == 1, s"corpus tokenization must evaluate once, found $tokEvals:\n$finalPlan")
  }

  test("passage dedup: one fp-keyed scalar exchange, no range partitioning") {
    // stride-1 passage fingerprinting is the widest exchange in the suite
    // by row count (one row per corpus token) — pin that it carries ONLY
    // (doc_id, pos, fp) scalars (the window text never shuffles), that
    // the occurrence count rides ONE hash exchange (the q_dedup_keep
    // window shape: no join, no broadcast), and that the operator return
    // is unsorted (no RangePartitioning — the round-6 contract)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.duplicatePassages(spark, docs, w = 25)
    df.collect() // finalize AQE
    val shuffles = nodes(df).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one fp exchange: $shuffles")
    assert(shuffles.head.output.map(_.name).toSet == Set("doc_id", "pos", "fp"),
      s"fp exchange must carry scalars only: ${shuffles.head.output}")
    assert(!df.queryExecution.executedPlan.toString.toLowerCase
      .contains("rangepartitioning"), "unsorted operator return")
    // the window fingerprints are ONE native expression over the token
    // array inside codegen (round 8: PassageFps — no per-window string
    // materialization), one tokenization per doc
    val projStr = Dedup.passageFingerprints(docs, w = 25)
      .queryExecution.executedPlan.toString
    assert(projStr.contains("graft_passage_fps"), "native fp expression in-plan")
    assert(!projStr.contains("DeserializeToObject"))
    assert("split\\(lower\\(".r.findAllIn(projStr).length == 1,
      "one tokenization per doc")
  }

  test("decontaminate under the passage strip runs the eval n-gram probe once") {
    // the strip reads its input twice (fingerprints, then the join back),
    // and an unmaterialized flagged set put the whole 13-gram probe —
    // corpus tokenize + explode, eval broadcast join, count-distinct —
    // into both branches of the sink query whenever the corpus arrived
    // hash-partitioned by doc_id (as the near-dup apply's anti-join
    // leaves it): the count-distinct then needs no exchange, so there is
    // no exchange to reuse. Counted across the query and every
    // materialization it triggers.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = raw.repartition(col("doc_id"))
    val evalSet = raw.filter(pmod(col("doc_id"), lit(97)) === 0)
    val plans = executedPlans {
      Dedup.stripDuplicatePassages(spark,
        Dedup.decontaminate(spark, docs, evalSet, n = 13), w = 25).collect()
    }
    def isProbeInput(p: SparkPlan): Boolean = p match {
      case g: GenerateExec => g.generator.toString.contains("graft_passage_fps") &&
        g.generator.toString.contains(", 13)")
      case _ => false
    }
    val probes = plans.flatMap(nodes).collect {
      case j: BroadcastHashJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("fp") &&
            nodes(j.left).exists(isProbeInput) => j
    }
    assert(probes.size == 1, s"eval n-gram probe must run once, ran ${probes.size} times")
  }

  test("keepFirstTwoPhase: the exact pre-pass finds content-free docs without a split") {
    // the pre-pass filter needs only "has a whitespace token": a regex
    // match over the decoded doc that stops at the first non-space char;
    // the size of the tokens array split the whole corpus into token
    // strings to learn it
    import org.apache.spark.sql.catalyst.expressions.RLike
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plans = executedPlans { Dedup.keepFirstTwoPhase(spark, docs).collect() }
    val prePass = plans.filter(p => nodes(p).exists(_.isInstanceOf[WindowExec]))
    assert(prePass.nonEmpty, "the exact pre-pass plan was not captured")
    for (p <- prePass) {
      val all = nodes(p)
      assert(!all.exists(_.toString.contains("split(")), s"the pre-pass splits the text:\n$p")
      assert(all.exists {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[RLike])
        case _ => false
      }, s"the pre-pass filters on a regex match:\n$p")
    }
  }

  test("connectedComponents runs no whole-stage-codegen'd limit") {
    // a limit compiled into a whole-stage class names its row counter from
    // a JVM-wide counter, so every convergence check generated a new class
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, WholeStageCodegenExec}
    import spark.implicits._
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    val plans = executedPlans { Dedup.connectedComponents(spark, chain).collect() }
    val limits = plans.flatMap(nodes).collect { case w: WholeStageCodegenExec => w }
      .flatMap(stageOps).filter {
        case _: LocalLimitExec | _: GlobalLimitExec => true
        case _ => false
      }
    assert(limits.isEmpty, s"whole-stage-codegen'd limits: $limits")
  }

  test("connectedComponents generates the same classes on every run") {
    // the generated classes are cache keys by source: a literal or counter
    // baked into the code makes every run compile anew. AQE is off here:
    // which of two shuffles finishes first can move a runtime join
    // re-plan, a timing effect this pin is not about.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import spark.implicits._
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    def sources(): Seq[String] =
      executedPlans { Dedup.connectedComponents(spark, chain).collect() }
        .flatMap(nodes).collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
        .sorted
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (first, second) = (sources(), sources())
      assert(first.nonEmpty)
      val changed = first.diff(second).size + second.diff(first).size
      assert(changed == 0, s"generated classes that differ between two runs (of ${first.size})")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("line dedup: one fp-keyed scalar exchange, no range partitioning") {
    // line fingerprinting shuffles one row per non-empty line — pin that
    // the exchange carries ONLY (doc_id, line_no, fp) scalars (the line
    // text never shuffles), that the occurrence count rides ONE hash
    // exchange, and that the operator return is unsorted
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.duplicateLines(spark, docs)
    df.collect() // finalize AQE
    val shuffles = nodes(df).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one fp exchange: $shuffles")
    assert(shuffles.head.output.map(_.name).toSet == Set("doc_id", "line_no", "fp"),
      s"fp exchange must carry scalars only: ${shuffles.head.output}")
    assert(!df.queryExecution.executedPlan.toString.toLowerCase
      .contains("rangepartitioning"), "unsorted operator return")
    val projStr = Dedup.lineFingerprints(docs)
      .queryExecution.executedPlan.toString
    assert(projStr.contains("graft_fingerprint64"), "native fp expression in-plan")
    assert(!projStr.contains("DeserializeToObject"))
  }

  test("frequency quality: top-k vocabulary broadcasts into the scoring join") {
    // the derive-then-apply pattern: the tiny top-k set must reach the
    // per-token scoring join as a BROADCAST (a shuffled join here would
    // exchange the full exploded token stream a second time)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.TextOps.tokenFrequencyQuality(docs, k = 20)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      "top-k vocabulary must broadcast into the token scoring join")
    assert(!planStr.toLowerCase.contains("rangepartitioning"),
      "unsorted operator return")
  }

  test("index-fed IVF search plans no corpus-side assignment expression") {
    import graft.ops.IvfIndex
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("plan_ivf").toString
    IvfIndex.write(graft.ops.Similarity.ivfIndex(spark, emb, nList = 16), dir)
    val queries = emb.orderBy(col("vec_id")).limit(8)
    val df = graft.ops.Similarity.ivfTopKFromIndex(IvfIndex.load(spark, dir),
      queries, k = 5, nProbe = 8)
    val planStr = df.queryExecution.executedPlan.toString
    // corpus cells are stored data (parquet scan); only the tiny query
    // side computes probes at search time
    assert(!planStr.contains("graft_ivf_nearest_cell"),
      "index-fed search must not re-assign the corpus")
    assert(planStr.contains("graft_ivf_probe_cells"),
      "query probes still compute at search time")
    assert(planStr.toLowerCase.contains("parquet"),
      "the corpus side is a parquet scan of the persisted index")
    assert(df.count() > 0)
  }

  test("lang-id, ngram-jaccard, IVF plans carry no object-serde break") {
    // round-5: the last typed-map surfaces (classifyLang map, ngramJaccard
    // map, IVF assignment/probe closures) run as native doGenCode
    // expressions — whole plans stay on Tungsten rows
    for (name <- Seq("q_lang_id", "q_ngram_jaccard", "q_ann_ivf")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val planStr = df.queryExecution.executedPlan.toString
      assert(!planStr.contains("DeserializeToObject"),
        s"$name plan must not break into object serde")
    }
    // the native expressions are actually in the plans (not optimized into
    // something else that happens to avoid serde)
    val lang = graft.SparkEntry.queries("q_lang_id")(spark, sfDir)
    assert(lang.queryExecution.executedPlan.toString.contains("graft_lang_id"))
    val ivf = graft.SparkEntry.queries("q_ann_ivf")(spark, sfDir)
    val ivfStr = ivf.queryExecution.executedPlan.toString
    assert(ivfStr.contains("graft_ivf_nearest_cell") && ivfStr.contains("graft_ivf_probe_cells"))
    val ngram = graft.SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)
    assert(ngram.queryExecution.executedPlan.toString.contains("graft_ngram_jaccard"))
  }

  test("keepFirst: one hash exchange, no broadcast, text never shuffles") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.keepFirst(docs).select(col("doc_id"), col("lang"), col("n_chars"))
    val all = nodes(df)
    assert(!all.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "keepFirst must not broadcast the loser/keep set (unbounded at scale)")
    val shuffles = all.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1, s"expected exactly one exchange, got ${shuffles.length}")
    val e = shuffles.head
    assert(e.outputPartitioning.toString.contains("text_hash"),
      s"the one exchange is keyed by the text hash: ${e.outputPartitioning}")
    assert(!e.output.exists(_.name == "text"),
      s"column pruning must drop text below the window exchange: " +
        e.output.map(_.name).mkString(", "))
  }

  test("Auto skew mode picks the documented plan variant (exchange vs none)") {
    import graft.spark.{PageGen, Pipeline}
    val pages = PageGen.pages(spark, sfDir)
    def nShuffles(input: org.apache.spark.sql.Dataset[graft.spark.Page]) =
      nodes(Pipeline.extract(spark, input, numPartitions = 8).toDF())
        .count(_.isInstanceOf[ShuffleExchangeExec])
    // well-split input (>= n/2 partitions): Auto adds NO exchange — the one
    // shuffle in the plan is the explicit repartition(8) used to build the
    // fixture
    assert(nShuffles(pages.repartition(8)) == 1,
      "Auto must not re-exchange an already well-split input")
    // coarse input (1 partition): Auto inserts the salted exchange
    assert(nShuffles(pages.coalesce(1)) == 1,
      "Auto must exchange a too-coarse input")
  }

  test("AQE re-plans a static sort-merge join into broadcast at runtime") {
    // static planning is denied broadcast (threshold -1); AQE's runtime
    // size statistics see the tiny filtered build side and convert the
    // join — the runtime-re-plan safety net the 100 TB configuration
    // relies on when estimates are wrong
    val conf = spark.conf
    val prevStatic = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val joined = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      joined.collect() // AQE finalizes the plan during execution
      val all = nodes(joined)
      assert(all.exists(_.nodeName.contains("BroadcastHashJoin")),
        s"AQE should have converted SMJ to BHJ: ${all.map(_.nodeName).distinct}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAdaptive match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("composed apply paths carry no operator-tail sort into their joins") {
    // operators return UNSORTED (round 6): a tail orderBy on minhashPairs /
    // connectedComponents / lshNearNeighbors made every composed apply
    // (keepFirst/keepBest/applyIncremental/cosine family) pay a range
    // exchange + global sort that the next join immediately destroyed.
    // RangePartitioning only enters a plan through orderBy, so its absence
    // pins the fix (SMJ hash-partitioned SortExecs are legitimate and stay).
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val kept = Dedup.keepFirstByPairs(spark, docs,
      Dedup.minhashPairs(spark, docs, threshold = 0.5))
    kept.collect() // finalize AQE stages so all exchanges are visible
    val ranges = nodes(kept).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty,
      s"no range exchange may feed the apply-path joins, found: $ranges")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cosKept = Dedup.keepFirstByPairs(spark, emb,
      Similarity.lshNearNeighbors(spark, emb, nBits = 12, nTables = 16,
        minCosine = 0.35), idCol = "vec_id")
    cosKept.collect()
    assert(nodes(cosKept).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.isEmpty, "cosine apply path must not range-exchange either")
  }

  test("keepFirst equals the anti-join formulation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val viaWindow = Dedup.keepFirst(docs).select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // exact's per-hash keep_id: every other id is a duplicate loser
    val keepIds = Dedup.exact(docs).select(col("keep_id"))
    val losers = docs.join(keepIds, col("doc_id") === col("keep_id"), "left_anti")
      .select(col("doc_id").as("dup_id"))
    val viaAnti = docs.join(losers, col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(viaWindow.sameElements(viaAnti))
  }
}
