package graft.tools
import org.apache.spark.sql.functions._
import graft.spark._
import graft.core.detect.DetectConfig
/** Scan / skew-exchange / kernel / full-pipeline walls at p = 8, 32. Usage:
  * StageBench <corpus>, a parquet dir of Page rows (ScaleRehearsal prints its own). */
object StageBench {
  def main(args: Array[String]): Unit = {
    val corpus = args(0)
    Seq(8, 32, 8, 32).foreach { p =>
      val s = ToolSession(p)
      import s.implicits._
      def timed(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        println(f"p=$p%2d $name%-22s wall=${(System.nanoTime()-t0)/1e9}%6.2f rows=$n")
      }
      val pages = s.read.parquet(corpus).as[Page]
      timed("scan_only")(s.read.parquet(corpus).select(sum(length(col("html")))).count())
      timed("scan_shuffle")(Pipeline.withSkewKey(pages).repartition(p*2, col("_host"), col("_salt"), col("_szbin")).select(count(lit(1))).as[Long].head())
      timed("kernel_noshuffle") {
        val cfg = DetectConfig()
        pages.mapPartitions(it => it.map(pg => Pipeline.extractOne(pg, cfg, 0))).filter(!_.parse_failed).count()
      }
      timed("full_pipeline")(Pipeline.extract(s, pages, numPartitions = p*2).filter(!_.parse_failed).count())
      s.stop()
    }
  }
}
