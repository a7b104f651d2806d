package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkEntry

/** Regenerates the committed golden parquets for the extraction surfaces
  * (x_extract_spans/pages/hints/tables) at sf0.01. The driver's DuckDB
  * oracle for these queries reads the committed file (`read_parquet`), so
  * they get the full rows+schema+hash check instead of rows-only — the
  * oracle is a PINNED SNAPSHOT, not an independent recomputation (the
  * independent ground truth is the reference-pinned golden fixture suite;
  * see tools/gen_goldens.py + text_sha_pins.json).
  *
  * Regenerate ONLY on a deliberate extraction-behavior change, and explain
  * the change in the commit: `sbt "runMain graft.tools.GenExtractGoldens"`.
  */
object GenExtractGoldens {
  val surfaces: Seq[String] =
    Seq("x_extract_spans", "x_extract_pages", "x_extract_hints", "x_extract_tables",
      "x_extract_metrics")

  def goldenFile(name: String): String =
    s"src/test/resources/golden/${name}_sf001.parquet"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else ToolSession.sf("sf0.01")
    val spark = ToolSession()
    surfaces.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tmp = Files.createTempDirectory(s"golden_$name").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file for $name, got ${part.length}")
      val dest = Paths.get(goldenFile(name))
      Files.createDirectories(dest.getParent)
      Files.copy(part(0).toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      println(s"GOLDEN $name rows=${df.count()} -> $dest")
    }
    spark.stop()
  }
}
