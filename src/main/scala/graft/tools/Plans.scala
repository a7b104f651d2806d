package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes `.explain("formatted")` of the named SparkEntry queries (no
  * names = every query) to one markdown file, one section per query.
  * Plans at sf0.001: the plan shape is the bench scale factors' while
  * planning takes seconds. PlanShapeSpec pins the shapes that matter.
  * Usage: runMain graft.tools.Plans <outFile> [names...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Plans <outFile> [query names...]")
    val sfDir = ToolSession.sf("sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession()
    val sb = new StringBuilder(s"# Physical plans ($sfDir, local[${ToolSession.cpus}])\n\n")
    names.foreach { name =>
      val out = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(out)) {
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      sb.append(s"## $name\n\n```\n").append(out.toString.trim).append("\n```\n\n")
    }
    Files.writeString(Paths.get(args.head), sb.toString)
    println(s"PLANS wrote ${names.size} plans to ${args.head}")
    spark.stop()
  }
}
