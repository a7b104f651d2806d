package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Task totals of one stage attempt. */
final class StageAgg {
  var cpuNs = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val runMs = ArrayBuffer.empty[Long]
}

/** Spark-side counters of one measured section. */
final case class SparkCounters(
    taskCpuS: Double,
    heaviestStageCpuS: Double,
    taskSkew: Double,
    gcS: Double,
    scanBytes: Double,
    scanRecords: Double,
    shuffleReadBytes: Double,
    shuffleWriteBytes: Double,
    spillBytes: Double,
    codegenCompiles: Double,
    jobs: Double,
    stages: Double) {

  /** Two sections as one (the skew of the heavier-skewed one). */
  def +(o: SparkCounters): SparkCounters = SparkCounters(taskCpuS + o.taskCpuS,
    math.max(heaviestStageCpuS, o.heaviestStageCpuS), math.max(taskSkew, o.taskSkew),
    gcS + o.gcS, scanBytes + o.scanBytes, scanRecords + o.scanRecords,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, codegenCompiles + o.codegenCompiles, jobs + o.jobs,
    stages + o.stages)

  def layers: Map[String, Double] = SparkCounters.Layers.zip(Seq(taskCpuS, taskSkew, gcS,
    scanBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, codegenCompiles, jobs,
    stages)).toMap
}

object SparkCounters {
  val Layers: Seq[String] = Seq("spark.task_cpu_s", "spark.task_skew", "spark.gc_s",
    "spark.scan_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.codegen_compiles", "spark.jobs", "spark.stages")
}

/** The benchmark's listener: sums task metrics per stage between `start()`
  * and `stop()`. Scan bytes are the file scans' "size of files read" SQL
  * metric (the parquet reader's vectored reads bypass the tasks' input
  * metrics). JVM GC time and codegen compiles are process-wide deltas: in
  * local mode every task runs in this JVM, and per-task GC time would count
  * one pause once per concurrent task.
  */
final class Listener(sc: SparkContext) extends SparkListener {
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private var gc0 = 0L
  private var compiles0 = 0L
  private val fileSizeMetrics = ConcurrentHashMap.newKeySet[Long]()
  private val scanBytes = new java.util.concurrent.atomic.AtomicLong()

  sc.addSparkListener(this)

  private val jobs = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  private def register(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == "size of files read") fileSizeMetrics.add(m.accumulatorId))
    p.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => register(u.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) => if (fileSizeMetrics.contains(id)) scanBytes.addAndGet(v) }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
    s.synchronized {
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.inputRecords += m.inputMetrics.recordsRead
      s.shuffleReadBytes += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.runMs += m.executorRunTime
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  def start(): Unit = {
    SparkInternals.drainListenerBus(sc)
    stages.clear()
    jobs.set(0)
    gc0 = gcMs()
    compiles0 = SparkInternals.codegenCompiles
    scanBytes.set(0L)
  }

  def stop(): SparkCounters = {
    SparkInternals.drainListenerBus(sc)
    val all = stages.values.asScala.toSeq
    def total(f: StageAgg => Long): Double = all.map(f).sum.toDouble
    val heaviest = if (all.isEmpty) None else Some(all.maxBy(_.runMs.sum))
    val skew = heaviest.map { s =>
      val sorted = s.runMs.sorted
      val median = sorted(sorted.length / 2)
      sorted.last.toDouble / math.max(1L, median)
    }.getOrElse(1.0)
    SparkCounters(
      taskCpuS = total(_.cpuNs) / 1e9,
      heaviestStageCpuS = heaviest.map(_.cpuNs / 1e9).getOrElse(0.0),
      taskSkew = skew,
      gcS = (gcMs() - gc0) / 1e3,
      scanBytes = scanBytes.get.toDouble,
      scanRecords = total(_.inputRecords),
      shuffleReadBytes = total(_.shuffleReadBytes),
      shuffleWriteBytes = total(_.shuffleWriteBytes),
      spillBytes = total(_.spillBytes),
      codegenCompiles = (SparkInternals.codegenCompiles - compiles0).toDouble,
      jobs = jobs.get.toDouble,
      stages = all.size.toDouble)
  }
}
