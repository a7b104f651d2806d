package graft.tools

import java.nio.file.{Files, Paths}

/** Verify's little sibling: dump a NAMED SUBSET of SparkEntry queries (plus
  * the full oracle_sql.json) for a quick single-query DuckDB cross-check
  * while iterating — the full Verify run replays every oracle (the minhash
  * hugeint CTEs alone take minutes in DuckDB).
  *
  * Usage: runMain graft.tools.QDump <sfDir> <outDir> <name> [name...]
  */
object QDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QDump <sfDir> <outDir> <name> [name...]")
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = ToolSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"QDUMP wrote $name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
