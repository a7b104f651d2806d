package graft.tools

import graft.SparkEntry

/** Times individual SparkEntry queries (args = query names; default: the
  * historically slowest). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  * Prints QTIME lines (grep for QTIME; Spark logs hit stderr as [error]).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = ToolSession.sfDir("sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_ann_lsh", "q_dedup_minhash", "q_dedup_simhash", "q_ann_topk",
        "q_ann_ivf", "q_multimodal", "q_dedup_apply", "q_dedup_incr_apply")
    val spark = ToolSession()
    // one throwaway pass to absorb JIT/session warmup, then 2 timed passes
    names.foreach { n => SparkEntry.queries(n)(spark, sfDir).count() }
    (1 to 2).foreach { rep =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"QTIME rep$rep $n%-18s ${(System.nanoTime() - t0) / 1e9}%6.2fs rows=$rows")
      }
    }
    spark.stop()
  }
}
