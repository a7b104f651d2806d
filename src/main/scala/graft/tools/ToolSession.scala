package graft.tools

import org.apache.spark.sql.SparkSession

/** The one way a tool main starts Spark: `local[cores]` with one shuffle
  * partition per core, UTC, no UI and 8 MB scan splits. `cores` defaults
  * to SPARK_GRAFT_CPUS, else every available processor. Spark picks its
  * scratch space from SPARK_LOCAL_DIRS itself.
  */
object ToolSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A generated scale-factor directory (e.g. "sf0.01") under the test-data root. */
  def sf(name: String): String = s"/root/testdata/$name"

  /** SPARK_GRAFT_SF_DIR, else the named scale factor. */
  def sfDir(default: String): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf(default))

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
