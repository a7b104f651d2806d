package graft.tools

import java.nio.file.Files

import graft.spark.{Page, PageGen, Snapshots}

/** Production rehearsal: the FULL resumable path (extract → single-pass
  * partitioned write → per-bucket snapshot commits → lineage table) over
  * the bench-scale corpus, with a mid-run crash + resume. Prints REHEARSE
  * lines. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_AMPLIFY,
  * SPARK_GRAFT_BUCKETS.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = ToolSession.sfDir("sf0.1")
    val amplify = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "64").toInt
    val buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "64").toInt
    val spark = ToolSession()
    import spark.implicits._

    val corpusDir = Files.createTempDirectory("rehearse_corpus").toString
    PageGen.pages(spark, sfDir, amplify, genParallelism = ToolSession.cpus * 4)
      .write.mode("overwrite").parquet(corpusDir)
    val pages = spark.read.parquet(corpusDir).as[Page]
    val docs = pages.count()
    println(s"REHEARSE corpus docs=$docs buckets=$buckets dir=$corpusDir")

    val outDir = Files.createTempDirectory("rehearse_out").toString
    // crash after half the buckets
    val t0 = System.nanoTime()
    try Snapshots.runResumable(spark, pages, outDir, buckets, failAfterBuckets = buckets / 2)
    catch { case e: RuntimeException => println(s"REHEARSE injected: ${e.getMessage}") }
    val tCrash = (System.nanoTime() - t0) / 1e9
    val committed = Snapshots.readCurrent(outDir).map(_.committed.size).getOrElse(0)
    println(f"REHEARSE half-run wall=$tCrash%.1fs committed=$committed")

    val t1 = System.nanoTime()
    val (processed, skipped) = Snapshots.runResumable(spark, pages, outDir, buckets)
    val tResume = (System.nanoTime() - t1) / 1e9
    println(f"REHEARSE resume wall=$tResume%.1fs processed=$processed skipped=$skipped")

    val lineage = Snapshots.lineage(spark, outDir).get
    val stats = lineage.selectExpr("count(*)", "sum(rows)", "sum(tables)",
      "sum(parse_failures)").collect()(0)
    val rows = Snapshots.readTable(spark, outDir).get.count()
    println(s"REHEARSE lineage buckets=${stats.getLong(0)} rows=${stats.getLong(1)} " +
      s"tables=${stats.getLong(2)} failures=${stats.getLong(3)} tableRows=$rows")
    val thr = docs / (tCrash + tResume)
    println(f"REHEARSE end-to-end docs/s=$thr%.0f (extract+write+commit, crash+resume)")
    require(rows == docs && stats.getLong(1) == docs, "lineage must account every doc")

    // streaming leg: drain the same corpus through the Structured Streaming
    // path (file source → kernel → exactly-once parquet sink)
    val sOut = Files.createTempDirectory("rehearse_stream_out").toString
    val sCkpt = Files.createTempDirectory("rehearse_stream_ckpt").toString
    val t2 = System.nanoTime()
    val q = graft.spark.StreamingPipeline.run(spark, corpusDir, sOut, sCkpt,
      availableNow = true)
    q.awaitTermination(600000)
    val tStream = (System.nanoTime() - t2) / 1e9
    val streamed = spark.read.parquet(sOut).count()
    println(f"REHEARSE streaming wall=$tStream%.1fs docs/s=${docs / tStream}%.0f rows=$streamed")
    require(streamed == docs, "streaming must account every doc")
    spark.stop()
  }
}
