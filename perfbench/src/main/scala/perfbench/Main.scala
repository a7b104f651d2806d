package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, run timed reps for `--seconds`,
  * check every rep's outputs, and write the metrics as JSON to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <file>
  *
  * With --trace 0 each rep is the untraced program and the end-to-end
  * metrics are reported; with --trace 1 each rep pairs an untraced and a
  * traced measurement and the per-layer metrics are reported.
  * `--workload train` runs every workload once at a twentieth of its size
  * and writes no result; the build dumps its class-data archive from it.
  */
object Main {

  val GenerateTimes = 3
  val MinReps = 3
  val MaxReps = 200

  /** Every per-layer metric a traced run reports, whichever the workload. */
  val Layers: Seq[String] = Trace.Spans.toSeq ++ Trace.Counts ++
    Trace.Methods.map(m => s"detect.hits.$m") ++
    Seq("kernel.span_s", "kernel.cpu_s", "kernel.doc_p50_us", "kernel.doc_p99_us",
      "kernel.alloc_per_doc_b", "spark.map_overhead_s") ++
    SparkCounters.Layers ++
    Seq("snapshots.crash_leg_s", "snapshots.resume_s", "snapshots.task_cpu_s",
      "snapshots.commits", "snapshots.files", "snapshots.output_bytes",
      "snapshots.resume_read_frac", "snapshots.readback_s", "snapshots.shuffle_write_bytes",
      "snapshots.spill_bytes",
      "ops.near_dup_s", "ops.decontam_s", "ops.passage_strip_s", "ops.kept_frac",
      "ops.contaminated_docs", "ops.stripped_docs", "trace.overhead_frac")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Workloads.secondsSince(t0)
    try {
      val ctx = Ctx(spark, new Listener(spark.sparkContext), seed, work)
      if (name == "train") {
        // one small pass of every code path, so the class-data archive the
        // build dumps at this JVM's exit holds every class a run loads
        Workloads.Names.foreach { n =>
          val w = Workloads(n, ctx.copy(work = work.resolve(n)), scale = 0.05)
          w.generate()
          w.warmUp()
          w.tracedRep()
        }
        return
      }
      val w = Workloads(name, ctx)
      val generateS = (1 to GenerateTimes).map { _ =>
        val t = System.nanoTime()
        w.generate()
        Workloads.secondsSince(t)
      }
      // JIT and Spark's own caches settle over several reps: warm up for a
      // fixed number of them, so the timed reps sit on the plateau
      val t1 = System.nanoTime()
      w.warmUp()
      val warmRepS = (1 to w.warmReps).map { _ =>
        val r = w.rep()
        require(r.failed == 0, r.problems.mkString("; "))
        r.wallS
      }
      val warmS = Workloads.secondsSince(t1)
      val setupS = sessionS + median(generateS) + warmS

      val reps = ArrayBuffer.empty[Rep]
      val start = System.nanoTime()
      while (reps.size < MinReps ||
          (Workloads.secondsSince(start) < seconds && reps.size < MaxReps)) {
        val r = if (trace) w.tracedRep() else w.rep()
        r.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
        reps += r
      }

      val metrics: Map[String, Double] =
        if (!trace) Map(
          "setup_s" -> setupS,
          "docs_per_s" -> w.docs / median(reps.map(_.wallS).toSeq),
          "task_cpu_s" -> median(reps.map(_.spark.taskCpuS).toSeq),
          "peak_rss_mb" -> peakRssMb())
        else {
          // layers a workload does not exercise report 0
          val keys = (reps.flatMap(_.layers.keys) ++ Layers).distinct
          val layers = keys.map(k => k -> median(reps.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap
          val untraced = layers.getOrElse("trace.untraced_cpu_s", 0.0)
          layers ++ Map("trace.overhead_frac" ->
            (if (untraced > 0) layers("trace.traced_cpu_s") / untraced - 1 else 0.0))
        }

      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("workload", name)
      root.put("seed", seed)
      root.put("trace", trace)
      root.put("attempted", reps.map(_.attempted).sum)
      root.put("failed", reps.map(_.failed).sum)
      val m = root.putObject("metrics")
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
      root.put("setup_session_s", sessionS)
      val g = root.putArray("setup_generate_s")
      generateS.foreach(g.add(_))
      root.put("setup_warmup_s", warmS)
      val wr = root.putArray("setup_warmup_reps_s")
      warmRepS.foreach(wr.add(_))
      val raw = root.putArray("reps")
      reps.foreach { r =>
        val o = raw.addObject()
        o.put("wall_s", r.wallS)
        o.put("task_cpu_s", r.spark.taskCpuS)
        o.put("failed", r.failed)
        val l = o.putObject("layers")
        r.layers.toSeq.sortBy(_._1).foreach { case (k, v) => l.put(k, v) }
        val p = o.putArray("problems")
        r.problems.foreach(p.add)
      }
      Files.write(Paths.get(arg("out")),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    } finally spark.stop()
  }
}
