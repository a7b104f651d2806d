package graft.tools
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import graft.core.extract.Extractor
import graft.spark.PageGen
object KernelBench {
  def main(args: Array[String]): Unit = {
    // deterministic in-memory corpus, no Spark
    val pages = (0L until 60000L).map { i =>
      PageGen.makePage(i, "The quick brown fox jumps over the lazy dog. " * 8, "en").html
    }.toArray
    def gcStats(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
    }
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def run(threads: Int): Double = {
      val pool = Executors.newFixedThreadPool(threads)
      val counter = new AtomicLong()
      val alloc = new AtomicLong()
      val (gc0, gt0) = gcStats()
      val t0 = System.nanoTime()
      val chunk = pages.length / threads
      (0 until threads).foreach { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tid = Thread.currentThread().getId
            val a0 = tmx.getThreadAllocatedBytes(tid)
            var i = t * chunk
            val end = if (t == threads - 1) pages.length else (t + 1) * chunk
            while (i < end) { counter.addAndGet(Extractor.extractHtml(pages(i)).tables.size.toLong); i += 1 }
            alloc.addAndGet(tmx.getThreadAllocatedBytes(tid) - a0)
          }
        })
      }
      pool.shutdown(); pool.awaitTermination(600, TimeUnit.SECONDS)
      val dt = (System.nanoTime() - t0) / 1e9
      val (gc1, gt1) = gcStats()
      println(f"threads=$threads%2d wall=$dt%.2f docs/s=${pages.length / dt}%.0f docs/s/thread=${pages.length / dt / threads}%.0f tables=${counter.get()} alloc/doc=${alloc.get() / pages.length}%d B gc_n=${gc1 - gc0} gc_ms=${gt1 - gt0} gc_frac=${(gt1 - gt0) / 1000.0 / dt}%.2f")
      dt
    }
    run(1) // warmup JIT
    run(1)
    val t8 = run(8)
    val t32 = run(32)
    println(f"kernel scaling efficiency 8->32: ${(t8 / t32) / 4.0}%.3f")

    // cost of the opt-in DataFrame-extraction stage (x_extract_tables path)
    locally {
      val cfg = graft.core.detect.DetectConfig(extractTables = true)
      val sample = pages.take(8000)
      sample.foreach(h => Extractor.extractHtml(h, cfg)) // warm
      val t0 = System.nanoTime()
      var tabs = 0L
      sample.foreach(h => tabs += Extractor.extractHtml(h, cfg).tables.size)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"extract-tables ON: ${sample.length / dt}%.0f docs/s single-thread (tables=$tabs)")
    }
  }
}
