package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.extract.Extractor
import graft.ops.Dedup
import graft.spark.{Page, Pipeline, Snapshots}

/** One measured rep: wall seconds of the timed section, its Spark counters,
  * per-layer values, the docs whose outputs were checked, and those of them
  * without a correct output row.
  */
final case class Rep(wallS: Double, spark: SparkCounters, layers: Map[String, Double],
    attempted: Long, failed: Long, problems: Seq[String])

/** A workload: seeded input generation, a warm-up, and reps that each
  * re-scan the input table and check the outputs.
  */
trait Workload {
  def docs: Long
  /** Untimed reps run before the timed ones. A count, not a time, so a run
    * on a slow host is as warm as one on a fast host when timing starts.
    */
  def warmReps: Int
  def generate(): Unit
  /** Work before the warm-up reps, such as reference outputs for checks. */
  def warmUp(): Unit
  def rep(): Rep
  /** One untraced and one traced measurement of the same section; the
    * returned layers carry `trace.untraced_cpu_s` and `trace.traced_cpu_s`.
    */
  def tracedRep(): Rep
}

object Workloads {
  val Names: Seq[String] = Seq("extract_mix", "ops_cleanup")

  /** `scale` shrinks the inputs for the class-loading training run only. */
  def apply(name: String, ctx: Ctx, scale: Double = 1.0): Workload = {
    def n(full: Int): Int = math.max(100, (full * scale).toInt)
    name match {
      case "extract_mix" => new ExtractMix(ctx, pages = n(10000), buckets = 64)
      case "ops_cleanup" => new OpsCleanup(ctx, bases = n(800))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var pairs = 0

  /** Run the untraced and the traced measurement of one traced rep, taking
    * turns at going first so the JIT's remaining warm-up does not always
    * favour the same side of `trace.overhead_frac`.
    */
  def pairUp[T](plain: => Rep, traced: => T): (T, Rep) = {
    pairs += 1
    if (pairs % 2 == 1) { val p = plain; (traced, p) }
    else { val t = traced; (t, plain) }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    }
  }
}

final case class Ctx(spark: SparkSession, listener: Listener, seed: Long, work: Path) {
  def dir(name: String): String = work.resolve(name).toString

  /** Time `body` as one listener section. */
  def measure[T](body: => T): (T, Double, SparkCounters) = {
    listener.start()
    val t0 = System.nanoTime()
    val out = body
    val wall = Workloads.secondsSince(t0)
    (out, wall, listener.stop())
  }
}

/** Order-independent digest of an extraction output, from ONE aggregate
  * job that forces every output column. 64-bit row hashes are summed as
  * two 32-bit halves so the sums cannot overflow.
  */
final case class Digest(rows: Long, urls: (Long, Long), urlSha: (Long, Long),
    all: (Long, Long), parseFailed: Long, sample: Map[String, String])

object Digest {
  private def halves(h: Column): Seq[Column] =
    Seq(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)))

  private def pair(r: org.apache.spark.sql.Row, i: Int): (Long, Long) = (r.getLong(i), r.getLong(i + 1))

  def of(out: DataFrame, sampleUrls: Seq[String]): Digest = {
    val all = xxhash64(col("url"), col("lang"), col("text"), col("text_sha256"),
      col("n_regions"), col("n_tables"), col("bytes_stripped"), col("parse_failed"),
      col("spans"), col("hints"))
    val r = out.agg(count(lit(1)),
        (halves(xxhash64(col("url"))) ++ halves(xxhash64(col("url"), col("text_sha256"))) ++
          halves(all) ++ Seq(
            sum(when(col("parse_failed"), 1L).otherwise(0L)),
            // partition_id is physical, so it is forced but not compared
            sum(col("partition_id")),
            collect_list(when(col("url").isin(sampleUrls: _*),
              struct(col("url"), col("text_sha256")))))): _*)
      .collect()(0)
    Digest(r.getLong(0), pair(r, 1), pair(r, 3), pair(r, 5),
      if (r.isNullAt(7)) 0L else r.getLong(7),
      r.getSeq[org.apache.spark.sql.Row](9).map(x => x.getString(0) -> x.getString(1)).toMap)
  }

  /** (rows, url digest) of a table's url column. */
  def urls(df: DataFrame): (Long, (Long, Long)) = {
    val r = df.agg(count(lit(1)), halves(xxhash64(col("url"))): _*).collect()(0)
    (r.getLong(0), pair(r, 1))
  }
}

/** `extract_mix`: Pipeline.extract (default config, Auto skew mode) over a
  * seeded page table of the full ten-variant mix, into one aggregate that
  * forces every output column. The traced rep adds the traced kernel pass
  * and the resumable path: Snapshots.runResumable crashing after half the
  * buckets, then the resume, with the committed table and lineage checked
  * against the one-shot output.
  */
final class ExtractMix(ctx: Ctx, pages: Int, buckets: Int) extends Workload {
  import ctx.spark
  val docs: Long = pages.toLong
  // rep walls fall for about ten reps after the reference pass; the last
  // two are within 10 % of the plateau
  val warmReps = 8
  private val input = ctx.dir("pages")
  private var inputUrls: (Long, Long) = (0L, 0L)
  private var expectedSha: Map[String, String] = Map.empty
  private var reference: Digest = _
  private var resumes = 0

  def generate(): Unit = {
    Gen.writePages(spark, ctx.seed, pages, files = 16, input)
    val (n, u) = Digest.urls(scan().toDF())
    require(n == pages, s"generated $n pages, expected $pages")
    inputUrls = u
    val r = Gen.rng(ctx.seed, 0x5A3F1EL)
    expectedSha = Seq.fill(64)(r.nextInt(pages).toLong).distinct.map { i =>
      val p = Gen.page(ctx.seed, i)
      p.url -> Extractor.extractHtml(p.html).sha256
    }.toMap
  }

  private def scan(): Dataset[Page] = Gen.readPages(spark, input)

  /** Failed docs of one extraction output, with the reasons. */
  private def check(d: Digest, what: String): (Long, Seq[String]) = {
    var failed = 0L
    val problems = Seq.newBuilder[String]
    if (d.rows != docs || d.urls != inputUrls) {
      failed += math.max(1L, math.abs(d.rows - docs))
      problems += s"$what: ${d.rows} rows for $docs input urls, or a url set that differs"
    }
    if (d.parseFailed > 0) {
      failed += d.parseFailed
      problems += s"$what: ${d.parseFailed} rows with parse_failed"
    }
    val bad = expectedSha.count { case (u, sha) => !d.sample.get(u).contains(sha) }
    if (bad > 0) {
      failed += bad
      problems += s"$what: $bad of ${expectedSha.size} sampled docs differ from Extractor.extractHtml"
    }
    if (reference != null && (d.all != reference.all || d.urlSha != reference.urlSha)) {
      failed += 1
      problems += s"$what: output rows differ from the one-shot pass's"
    }
    (failed, problems.result())
  }

  private def oneShot(): Digest =
    Digest.of(Pipeline.extract(spark, scan()).toDF(), expectedSha.keys.toSeq)

  def warmUp(): Unit = {
    reference = oneShot()
    val (f, p) = check(reference, "one-shot")
    require(f == 0, p.mkString("; "))
  }

  def rep(): Rep = {
    val (d, wall, c) = ctx.measure(oneShot())
    val (f, p) = check(d, "extract")
    Rep(wall, c, Map.empty, docs, f, p)
  }

  def tracedRep(): Rep = {
    val ((d, wall, c, kernel), plain) = Workloads.pairUp(rep(), {
      Trace.reset()
      val (d, wall, c) = ctx.measure(Digest.of(TracedKernel.extract(spark, scan()).toDF(),
        expectedSha.keys.toSeq))
      (d, wall, c, Trace.totals())
    })
    val (f, p) = check(d, "traced kernel")
    val resume = resumeLegs()
    Rep(wall, c, kernel ++ c.layers ++ resume.layers ++ Map(
      "spark.map_overhead_s" -> (c.heaviestStageCpuS - kernel("kernel.cpu_s")),
      "trace.untraced_cpu_s" -> plain.spark.taskCpuS,
      "trace.traced_cpu_s" -> c.taskCpuS), plain.attempted + docs + resume.attempted,
      plain.failed + f + resume.failed, plain.problems ++ p ++ resume.problems)
  }

  /** Crash after half the buckets, resume, read the table and lineage back. */
  private def resumeLegs(): Rep = {
    resumes += 1
    val out = ctx.dir(s"resume-$resumes")
    val half = buckets / 2
    val (crashed, crashS, c1) = ctx.measure {
      try { Snapshots.runResumable(spark, scan(), out, buckets, failAfterBuckets = half); false }
      catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
    }
    val committedRows = Snapshots.readCurrent(out).map(_.committed.map(_.rows).sum).getOrElse(0L)
    val (resumed, resumeS, c2) = ctx.measure(Snapshots.runResumable(spark, scan(), out, buckets))

    val problems = Seq.newBuilder[String]
    var failed = 0L
    if (!crashed) { failed += 1; problems += "crash leg did not stop at the injected failure" }
    if (resumed != ((buckets - half, half))) {
      failed += 1
      problems += s"resume processed/skipped $resumed, expected (${buckets - half},$half)"
    }
    val t0 = System.nanoTime()
    val d = Digest.of(Snapshots.readTable(spark, out).get, expectedSha.keys.toSeq)
    val lin = Snapshots.lineage(spark, out).get
      .agg(count(lit(1)), countDistinct(col("bucket")), sum(col("rows"))).collect()(0)
    val readbackS = Workloads.secondsSince(t0)
    val (fd, pd) = check(d, "resumed table")
    failed += fd
    problems ++= pd
    if (lin.getLong(0) != buckets || lin.getLong(1) != buckets || lin.getLong(2) != docs) {
      failed += math.max(1L, math.abs(lin.getLong(2) - docs))
      problems += s"lineage has ${lin.getLong(0)} entries over ${lin.getLong(1)} buckets " +
        s"and ${lin.getLong(2)} rows, expected $buckets buckets and $docs rows"
    }
    val files = Snapshots.readCurrent(out).get.committed.flatMap(_.files)
    val c = c1 + c2
    val layers = Map(
      "snapshots.crash_leg_s" -> crashS,
      "snapshots.resume_s" -> resumeS,
      "snapshots.task_cpu_s" -> c.taskCpuS,
      "snapshots.commits" -> Snapshots.readCurrent(out).get.snapshotId.toDouble,
      "snapshots.files" -> files.size.toDouble,
      "snapshots.output_bytes" -> files.map(f => Files.size(Paths.get(f))).sum.toDouble,
      "snapshots.resume_read_frac" -> c2.scanRecords / math.max(1L, docs - committedRows),
      "snapshots.readback_s" -> readbackS,
      "snapshots.shuffle_write_bytes" -> c.shuffleWriteBytes,
      "snapshots.spill_bytes" -> c.spillBytes)
    Workloads.deleteTree(out)
    Rep(crashS + resumeS, c, layers, docs, failed, problems.result())
  }
}

/** `ops_cleanup`: keepFirstTwoPhase → decontaminate (n=13) →
  * stripDuplicatePassages (w=50) over a text corpus with planted near-dup
  * classes, a planted eval leak and a planted shared passage.
  */
final class OpsCleanup(ctx: Ctx, bases: Int) extends Workload {
  import ctx.spark
  val docs: Long = bases.toLong * Gen.Copies
  // a cold rep plus three: rep walls still fall by 5-15 % over the third
  // to fifth reps. Every rep compiles new generated classes, so at 2k docs
  // the fixed planning and codegen cost, still warming after two minutes,
  // is most of the rep; at 8k docs the cleanup itself is about half.
  val warmReps = 4
  private val corpusDir = ctx.dir("corpus")
  private val evalDir = ctx.dir("eval")
  private val N = 13
  private val W = 50
  private var evalSources: Set[Long] = Set.empty
  private var reps = 0

  def generate(): Unit = {
    Gen.writeOps(spark, ctx.seed, bases, files = 8, corpusDir, evalDir)
    evalSources = (0L until bases).filter(b => Gen.isEvalSource(ctx.seed, b))
      .filter(b => Gen.baseText(ctx.seed, b).split(" ").length >= N)
      .map(_ * Gen.Copies).toSet
    require(evalSources.nonEmpty, "the seed planted no eval leak")
  }

  private def corpus(): DataFrame = spark.read.parquet(corpusDir)
  private def evalSet(): DataFrame = spark.read.parquet(evalDir)

  private def nearDup(df: DataFrame): DataFrame = Dedup.keepFirstTwoPhase(spark, df, threshold = 0.5)
  private def decontam(df: DataFrame): DataFrame = Dedup.decontaminate(spark, df, evalSet(), n = N)
  private def strip(df: DataFrame): DataFrame = Dedup.stripDuplicatePassages(spark, df, w = W)

  private def sink(df: DataFrame): String = {
    reps += 1
    val out = ctx.dir(s"clean-$reps")
    df.select("doc_id", "text").write.mode("overwrite").parquet(out)
    out
  }

  def warmUp(): Unit = ()

  def rep(): Rep = {
    val (out, wall, c) = ctx.measure(sink(strip(decontam(nearDup(corpus())))))
    val (f, p, layers) = check(out)
    Rep(wall, c, layers, docs, f, p)
  }

  def tracedRep(): Rep = {
    def stage(body: => DataFrame): (DataFrame, Double, SparkCounters) =
      ctx.measure(body.localCheckpoint(eager = true))
    val ((kept, clean, out, nearS, decS, stripS, c), plain) = Workloads.pairUp(rep(), {
      val (kept, nearS, c1) = stage(nearDup(corpus()))
      val (clean, decS, c2) = stage(decontam(kept))
      val (out, stripS, c3) = ctx.measure(sink(strip(clean)))
      (kept, clean, out, nearS, decS, stripS, c1 + c2 + c3)
    })
    val (f, p, layers) = check(out)
    val (keptN, left) = (kept.count(), clean.count())
    Rep(nearS + decS + stripS, c, layers ++ c.layers ++ Map(
      "ops.near_dup_s" -> nearS, "ops.decontam_s" -> decS, "ops.passage_strip_s" -> stripS,
      "ops.kept_frac" -> keptN.toDouble / docs,
      "ops.contaminated_docs" -> (keptN - left).toDouble,
      "trace.untraced_cpu_s" -> plain.spark.taskCpuS,
      "trace.traced_cpu_s" -> c.taskCpuS), plain.attempted + docs, plain.failed + f,
      plain.problems ++ p)
  }

  /** Invariants of one cleaned output: ids unique and from the corpus, no
    * eval source left, no stripped text longer than its input.
    */
  private def check(out: String): (Long, Seq[String], Map[String, Double]) = {
    val cleaned = spark.read.parquet(out)
    val in = corpus().select(col("doc_id"), length(col("text")).as("in_len"))
    val r = cleaned.join(in, Seq("doc_id"), "left")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        sum(when(col("in_len").isNull, 1L).otherwise(0L)),
        sum(when(length(col("text")) > col("in_len"), 1L).otherwise(0L)),
        sum(when(length(col("text")) < col("in_len"), 1L).otherwise(0L)),
        sum(when(col("doc_id").isin(evalSources.toSeq: _*), 1L).otherwise(0L)))
      .collect()(0)
    val (rows, distinct, unknown, longer, stripped, leaked) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val problems = Seq.newBuilder[String]
    if (rows != distinct) problems += s"${rows - distinct} duplicate doc ids in the output"
    if (unknown > 0) problems += s"$unknown output doc ids not in the corpus"
    if (longer > 0) problems += s"$longer stripped texts longer than their input"
    if (leaked > 0) problems += s"$leaked eval source docs survived decontamination"
    val failed = (rows - distinct) + unknown + longer + leaked
    Workloads.deleteTree(out)
    (failed, problems.result(), Map("ops.stripped_docs" -> stripped.toDouble))
  }
}
