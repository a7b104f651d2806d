package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two spark-private hooks the benchmark's listener needs. */
object SparkInternals {

  /** Block until every queued listener event has been delivered, so task
    * metrics of a finished job are all counted before they are read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
