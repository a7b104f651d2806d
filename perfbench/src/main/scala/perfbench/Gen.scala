package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.spark.{Page, PageGen}

/** Seeded input generator. Every value is a pure function of (seed, row
  * index): the same seed gives byte-identical tables at any parallelism.
  * The program under test only ever sees the tables written from here.
  */
object Gen {

  type Rng = PageGen.Rng

  def rng(seed: Long, key: Long): Rng =
    new PageGen.Rng(seed * 0x9E3779B97F4A7C15L ^ (key + 0x632BE59BD9B4E019L))

  /** 600 pronounceable pseudo-words: large enough that unrelated docs share
    * no 13-gram or 50-token passage, small enough to repeat like prose.
    */
  val Words: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val co = Array("", "n", "r", "s", "x")
    (for (a <- on; b <- nu; c <- co) yield a + b + c).take(600)
  }
  val Langs: Array[String] = Array("en", "en", "fr", "es", "zh", "de")

  /** Prose of `minTok..maxTok` tokens in sentences of 6-14 words. */
  def text(r: Rng, minTok: Int, maxTok: Int): String = {
    val n = minTok + r.nextInt(maxTok - minTok + 1)
    val sb = new StringBuilder(n * 6)
    var left = 0
    var i = 0
    while (i < n) {
      if (left == 0) left = 6 + r.nextInt(9)
      // Zipf-ish: half the draws come from the 60 most common words
      val w = if (r.nextInt(2) == 0) Words(r.nextInt(60)) else Words(r.nextInt(Words.length))
      if (i > 0) sb.append(' ')
      sb.append(w)
      left -= 1
      if (left == 0 || i == n - 1) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** The i-th page doc id of a seed: strictly increasing, so distinct, with
    * seeded gaps so `id % 10` (PageGen's variant) and the host mix vary.
    */
  def pageDocId(seed: Long, i: Long): Long = {
    val base = (rng(seed, -1L).nextLong() >>> 40) * 8
    base + i * 8 + rng(seed, i).nextInt(8)
  }

  def page(seed: Long, i: Long): Page = {
    val id = pageDocId(seed, i)
    val r = rng(seed, id)
    PageGen.makePage(id, text(r, 20, 110), Langs(r.nextInt(Langs.length)))
  }

  /** `n` pages in `files` parquet files under `dir`. */
  def writePages(spark: SparkSession, seed: Long, n: Int, files: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, files).as[Long]
      .mapPartitions(_.map(i => page(seed, i)))
      .write.mode("overwrite").parquet(dir)
  }

  // ---- ops_cleanup corpus ----

  val Copies = 10
  val MutateEvery = 40
  val EvalEvery = 50     // one base doc in 50 leaks into the eval set
  val BoilerEvery = 10   // one class in 10 carries the shared footer passage
  val EvalTokens = 30
  val Boiler: String = (1 to 60).map(i => s"footer$i").mkString(" ")

  /** Base doc `b` of a seed: 60-200 tokens, so every doc has 13-grams and
    * 50-token windows.
    */
  def baseText(seed: Long, b: Long): String = text(rng(seed, b), 60, 200)

  /** Copy `k` of base doc `b`, id `b * Copies + k`. Copy 0 is the original
    * (and the min id of its class, so near-dedup keeps it); copies 1..9
    * replace every 40th token, from a seeded offset, with a seeded token —
    * the near-dup classes `graft.tools.OpsScale` plants.
    */
  def opsDoc(seed: Long, b: Long, k: Int): (Long, String) = {
    val id = b * Copies + k
    var t = baseText(seed, b)
    if (k > 0) {
      val r = rng(seed, id)
      val toks = t.split(" ")
      var i = r.nextInt(MutateEvery)
      while (i < toks.length) { toks(i) = s"mut${r.nextInt(1 << 20)}"; i += MutateEvery }
      t = toks.mkString(" ")
    }
    if (hasBoiler(seed, b)) t = t + " " + Boiler
    (id, t)
  }

  /** Exactly one class in every 10, at a seeded offset: whole classes carry
    * the footer, so it never splits a near-dup class.
    */
  def hasBoiler(seed: Long, b: Long): Boolean =
    b % BoilerEvery == rng(seed, 0x5bd1e995L).nextInt(BoilerEvery)

  /** Exactly one base doc in every 50, at a seeded offset. */
  def isEvalSource(seed: Long, b: Long): Boolean =
    b % EvalEvery == rng(seed, 0x27d4eb2fL).nextInt(EvalEvery)

  /** The eval item leaked from base doc `b`: a 30-token slice of copy 0. */
  def evalText(seed: Long, b: Long): String = {
    val toks = baseText(seed, b).split(" ")
    val from = rng(seed, b ^ 0x165667b1L).nextInt(toks.length - EvalTokens + 1)
    toks.slice(from, from + EvalTokens).mkString(" ")
  }

  def writeOps(spark: SparkSession, seed: Long, bases: Int, files: Int,
      corpusDir: String, evalDir: String): Unit = {
    import spark.implicits._
    spark.range(0, bases.toLong * Copies, 1, files).as[Long]
      .map(i => opsDoc(seed, i / Copies, (i % Copies).toInt))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    spark.range(0, bases.toLong, 1, 1).as[Long]
      .filter(b => isEvalSource(seed, b))
      .map(b => (b * Copies, evalText(seed, b)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(evalDir)
  }

  def readPages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Page]
  }
}
