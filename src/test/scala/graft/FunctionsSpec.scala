package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions}
import graft.ops.TextOps

/** Native Catalyst expression surface: value-identity with the Scala
  * helper, whole-stage-codegen residency (no typed-map plan break),
  * SQL-name registration, and the SparkSessionExtensions wiring.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("passageFps equals per-window fingerprint64 of the joined window") {
    // the round-8 fast path (per-token polynomial fold) must be VALUE-
    // identical to hashing each materialized window string — checked on
    // the corpus at the query parameter w=25 plus a small-w sweep, and on
    // edge tokens (unicode, combining marks, surrogate pairs, shorter-
    // than-w docs, null text)
    import spark.implicits._
    import graft.functions.DedupFunctions
    val toks = filter(split(lower(coalesce(col("text"), lit(""))), "\\s+"),
      t => length(t) > 0)
    def slowFps(w: Int) =
      when(size(toks) >= w, transform(sequence(lit(0), size(toks) - w),
        i => GraftFunctions.fingerprint64(concat_ws(" ", slice(toks, i + 1, lit(w))))))
        .otherwise(array().cast("array<long>"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val edge = Seq("á ño été δε", "one", "",
      null, "x y z w v u t", "🙂 a 🙂 b 🙂")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (df <- Seq(docs.select(col("doc_id"), col("text")), edge); w <- Seq(1, 3, 25)) {
      val fast = df.select(col("doc_id"), DedupFunctions.passageFps(toks, w).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      val slow = df.select(col("doc_id"), slowFps(w).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(fast == slow, s"w=$w")
    }
    // interpreted path (nullSafeEval) agrees with the Scala reference too
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array("foo", "baér", "z").map(org.apache.spark.unsafe.types.UTF8String.fromString))
    val got = graft.functions.DedupKernels.passageFps(arr, 2).toLongArray().toSeq
    val want = Seq(TextOps.fingerprint("foo baér"), TextOps.fingerprint("baér z"))
    assert(got == want)
    // deterministic random sweep: the rolling modular arithmetic must hold
    // for arbitrary token shapes (random lengths, full BMP chars, w up to
    // beyond the array length)
    val rnd = new scala.util.Random(4242)
    (0 until 300).foreach { _ =>
      val nTok = rnd.nextInt(12)
      // full BMP minus the surrogate block (an unpaired surrogate does not
      // round-trip UTF-8, which would make the reference string diverge
      // from what the UTF8String-backed kernel sees — not a kernel property)
      def ch(): Char = {
        val c = 1 + rnd.nextInt(0xFFFE)
        if (c >= 0xD800 && c <= 0xDFFF) 'x' else c.toChar
      }
      val tk = Array.fill(nTok)(
        (0 until (1 + rnd.nextInt(9))).map(_ => ch()).mkString)
      val ad = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tk.map(org.apache.spark.unsafe.types.UTF8String.fromString))
      val w2 = 1 + rnd.nextInt(14)
      val fast2 = graft.functions.DedupKernels.passageFps(ad, w2).toLongArray().toSeq
      val want2 =
        if (nTok < w2) Seq.empty
        else (0 to nTok - w2).map(i => TextOps.fingerprint(tk.slice(i, i + w2).mkString(" ")))
      assert(fast2 == want2, s"nTok=$nTok w=$w2")
    }
  }

  // the literal per-shingle-string MinHash and per-token-string simhash
  // formulas the signature scanner must reproduce
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h ^= c; h *= 0x100000001b3L }
    h
  }
  private def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def refSig(text: String, k: Int, n: Int): Array[Long] = {
    val sh = graft.ops.Dedup.shingles(text, n).toSeq
    if (sh.isEmpty) Array.emptyLongArray
    else {
      val sig = Array.fill(k)(Long.MaxValue)
      sh.foreach { s =>
        val base = fnv(s)
        (0 until k).foreach { i =>
          val h = mix64(base ^ (i.toLong * 0xA24BAED4963EE407L))
          if (h < sig(i)) sig(i) = h
        }
      }
      sig
    }
  }
  private def refSimhash(text: String): Long = {
    val counts = new Array[Int](64)
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).foreach { t =>
      val h = mix64(fnv(t))
      (0 until 64).foreach(i => counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((out, i) => if (counts(i) > 0) out | (1L << i) else out)
  }

  test("minhashSignature equals the per-shingle-string reference formula") {
    // the signature folds the FNV base hash over the doc's token units
    // without building the joined shingle string — pin value-identity
    // against a literal hash64(shingle.mkString(" ")) reference (plus the
    // DuckDB oracle, which replays the same fold in hugeint arithmetic)
    // (a null text never reaches the kernel: the expression is null-safe)
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.DedupKernels
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).as[String].collect().toSeq.filter(_ != null) ++
      Seq("", "  ", "one", "one two", "Á déjà vu 🙂 mixed  CASE")
    for (t <- texts; n <- Seq(1, 3)) {
      val sig = DedupKernels.minhashSig(UTF8String.fromString(t), 8, n).toLongArray()
      assert(sig.toSeq == refSig(t, 8, n).toSeq, s"n=$n text=${t.take(40)}")
    }
  }

  test("minhashSig and simhash equal the reference on random mixed texts") {
    // the UTF8String kernels scan the Locale.ROOT-lowercased chars of the
    // doc in place; they must equal the String formulas on texts (half of
    // them all-ASCII) mixing upper and lower case, the regex-\s separators,
    // spaces that \s does not match (U+001C-U+001F, U+00A0, U+2003), case-
    // changing non-ASCII letters (final sigma, dotted capital I) and
    // surrogate pairs, read through UTF8String views at a non-zero offset
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.DedupKernels
    val rnd = new scala.util.Random(1313)
    val regexSpace = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
    val otherSpace = Seq("\u001C", "\u001D", "\u001E", "\u001F", "\u00A0", "\u2003")
    val nonAscii = Seq("É", "İ", "Σ", "ΟΔΟΣ", "\uD83D\uDE00", "é")
    def word(): String = (0 until 1 + rnd.nextInt(6)).map { _ =>
      val c = ('a' + rnd.nextInt(26)).toChar
      if (rnd.nextBoolean()) c.toUpper else c
    }.mkString
    def text(ascii: Boolean): String = (0 until rnd.nextInt(14)).map { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => word()
        case 4 | 5 => regexSpace(rnd.nextInt(regexSpace.size)) * (1 + rnd.nextInt(2))
        case 6 | 7 if !ascii => nonAscii(rnd.nextInt(nonAscii.size))
        case 8 if !ascii => otherSpace(rnd.nextInt(otherSpace.size))
        case 8 => otherSpace(rnd.nextInt(4)) // U+001C-U+001F are ASCII
        case _ => " "
      }
    }.mkString
    // a view of the text's bytes inside a larger buffer: A-Z padding on
    // both sides changes the signature if the scan strays outside the view
    def view(t: String): UTF8String = {
      val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val pad = 3 + rnd.nextInt(9)
      val buf = Array.fill[Byte](b.length + 2 * pad)('Q'.toByte)
      System.arraycopy(b, 0, buf, pad, b.length)
      UTF8String.fromBytes(buf, pad, b.length)
    }
    for (i <- 0 until 2000) {
      val t = text(ascii = i % 2 == 0)
      val u = if (i % 4 < 2) view(t) else UTF8String.fromString(t)
      assert(u.toString == t)
      for (n <- Seq(1, 3, 5); k <- Seq(8, 64)) {
        val want = refSig(t, k, n).toSeq
        assert(DedupKernels.minhashSig(u, k, n).toLongArray().toSeq == want,
          s"n=$n k=$k text=${t.map(_.toInt.toHexString).mkString(",")}")
      }
      assert(DedupKernels.simhash(u) == refSimhash(t), t)
    }
  }

  test("signatures do not depend on the JVM's default locale") {
    // under tr-TR, String.toLowerCase() maps ASCII 'I' to dotless 'ı'
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.DedupKernels
    val t = "IMPORTANT Items In Istanbul: INDIA\tIRIS iris"
    def all() = (DedupKernels.minhashSig(UTF8String.fromString(t), 64, 3).toLongArray().toSeq,
      refSig(t, 64, 3).toSeq, graft.ops.Dedup.shingles(t, 3).toSeq,
      DedupKernels.simhash(UTF8String.fromString(t)))
    val before = all()
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert("I".toLowerCase != "i", "tr-TR must lowercase I to a dotless i")
      assert(all() == before)
    } finally java.util.Locale.setDefault(saved)
    assert(before._1 == before._2)
    assert(before._3.head == "important items in")
  }

  test("tokens, slotMatch and exciseTokens equal the higher-order formulas they replace") {
    // the ops path's codegen'd forms must be VALUE-identical to the
    // interpreted higher-order functions they replaced: the tokenizer,
    // the MinHash slot-match estimate, and the passage strip's rewrite
    import spark.implicits._
    import graft.functions.DedupFunctions
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(Seq("", null, "  lead and  trail  ", "🙂 a 🙂 b").zipWithIndex
        .map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text"))
    val raw = coalesce(col("text"), lit(""))
    val slowToks = filter(split(raw, "\\s+"), t => length(t) > 0)
    val fastToks = graft.ops.Dedup.tokens(raw)
    val toks = docs.select(col("doc_id"), slowToks.as("slow"), fastToks.as("fast"),
      // a covered set per doc: every third token index, one out of range
      transform(sequence(lit(0), size(slowToks) + 1), i => i * 3).as("cov"))
    assert(toks.filter(col("slow") =!= col("fast")).isEmpty, "tokens")
    val excised = toks.select(
      concat_ws(" ", filter(col("slow"), (t, i) => not(array_contains(col("cov"), i)))).as("slow"),
      DedupFunctions.exciseTokens(col("fast"), col("cov")).as("fast"))
    assert(excised.filter(col("slow") =!= col("fast")).isEmpty, "exciseTokens")
    val sigs = docs.select(col("doc_id"),
      DedupFunctions.minhashSig(raw, 16, 3).as("sig"))
    val pairs = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .limit(5000)
      .select(
        (aggregate(zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / lit(16)).as("slow"),
        graft.ops.Dedup.slotMatch(col("a.sig"), col("b.sig"), 16).as("fast"))
    assert(pairs.filter(not(col("slow") <=> col("fast"))).isEmpty, "slotMatch")
    assert(pairs.filter(col("fast") > 0).count() > 0, "some pairs share slots")
  }

  test("fingerprint64 expression equals the Scala helper on the corpus") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val viaExpr = docs.select(col("doc_id"),
        GraftFunctions.fingerprint64(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    val viaScala = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> TextOps.fingerprint(t) }.toMap
    assert(viaExpr == viaScala)
  }

  test("fingerprint64 stays inside whole-stage codegen (no object-serde break)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = docs.select(GraftFunctions.fingerprint64(col("text")))
      .queryExecution.executedPlan.toString
    // '*(n)' is the whole-stage-codegen stage marker in executedPlan output
    assert(plan.contains("*(1) Project [graft_fingerprint64"), plan.take(400))
    assert(!plan.contains("DeserializeToObject"),
      "a native expression must not break the plan into object serde")
    // interpreted path agrees with codegen (nullSafeEval vs doGenCode)
    assert(graft.functions.Fingerprint64(
      org.apache.spark.sql.catalyst.expressions.Literal("abc")).eval(null) ==
      TextOps.fingerprint("abc"))
  }

  test("LshSignatures expression equals the Scala helper on the corpus") {
    import graft.ops.Similarity
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val planes = Similarity.hyperplanes(16 * 12, 64, 42L)
    val viaExpr = emb.select(col("vec_id"),
        graft.functions.LshFunctions.lshSignatures(col("embedding"), planes, 16, 12))
      .as[(Long, Array[Int])].collect().toMap
    val viaScala = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().map { case (id, v) =>
        id -> Array.tabulate(16)(t => Similarity.lshSignature(v, planes, t * 12, 12))
      }.toMap
    assert(viaExpr.keySet == viaScala.keySet)
    viaScala.foreach { case (id, sig) =>
      assert(viaExpr(id).sameElements(sig), s"signature mismatch for vec $id")
    }
    // interpreted path agrees with codegen, and null in → null out
    val row = emb.select(graft.functions.LshFunctions
        .lshSignatures(lit(null).cast("array<float>"), planes, 4, 8)).limit(1).collect()(0)
    assert(row.isNullAt(0), "null in, null out")
  }

  test("unicodeNorm matches java.text.Normalizer across forms, total on null") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val rows = Seq(
      "Café composed",         // NFC composes the accent
      "ﬁle fullwidth Ａ",   // NFKC: fi ligature -> fi, fullwidth A -> A
      "already clean ascii",         // fast path: isNormalized short-circuit
      null.asInstanceOf[String]
    ).toDF("s")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = rows.select(TextFunctions.unicodeNorm(col("s"), form)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0))
      val want = Seq("Café composed", "ﬁle fullwidth Ａ",
        "already clean ascii", null).map(s =>
        if (s == null) null
        else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.valueOf(form)))
      assert(got.toSeq == want, s"form $form")
    }
    // the plan stays codegen'd — no object-serde break
    val plan = rows.select(TextFunctions.unicodeNorm(col("s"), "NFKC"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_unicode_norm") && !plan.contains("DeserializeToObject"))
    intercept[IllegalArgumentException] {
      TextFunctions.unicodeNorm(col("s"), "NFX")
    }
  }

  test("SQL-name registration and null handling") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT graft_fingerprint64('abc') AS fp, " +
      "graft_fingerprint64(CAST(NULL AS STRING)) AS nfp").collect()(0)
    assert(got.getLong(0) == TextOps.fingerprint("abc"))
    assert(got.isNullAt(1), "null in, null out")
  }

  test("GraftExtensions injects the function registry entries") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must register without throwing
  }
}
