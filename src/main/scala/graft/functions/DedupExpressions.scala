package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup signature kernels — same
  * rationale as [[Fingerprint64]]: a typed `Dataset.map` forces a
  * Deserialize→map→Serialize break before the signature computation; these
  * stay inside whole-stage codegen, so the map-side signature stage of a
  * 100 TB dedup never leaves Tungsten rows.
  */
object DedupKernels {
  // static entry points for doGenCode (codegen emits direct calls)
  def simhash(s: UTF8String): Long = simhash(new TokenScan(s.toString))

  def minhashSig(s: UTF8String, k: Int, shingleN: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSignature(new TokenScan(s.toString), k, shingleN))

  /** splitmix64's finalizer: the per-slot remix of the MinHash signature
    * and the band fold.
    */
  @inline private[graft] def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit simhash over the doc's tokens: per token, the bit votes of
    * mix64 of its FNV-1a hash.
    */
  private[graft] def simhash(t: TokenScan): Long = {
    val counts = new Array[Int](64)
    while (t.next()) {
      val h = mix64(t.fnv(TokenScan.FnvBasis, t.start, t.end))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** k-permutation MinHash signature over the doc's word `shingleN`-grams
    * (all its tokens as one shingle when it has fewer; the shingles of
    * [[graft.ops.Dedup.shingles]]): slot i is the minimum over shingles of
    * mix64(fnv ^ seed_i), where fnv is the FNV-1a hash of the shingle's
    * tokens joined by single spaces. The fold reads the tokens in place (a
    * ring of the last `shingleN` token bounds), so no shingle or token
    * string is built. A doc without tokens has an EMPTY signature: callers
    * filter these out before banding (an all-MaxValue sentinel would
    * band-collide uniformly). FunctionsSpec pins it against the
    * `shingles()`-based formula, and the q_dedup_minhash DuckDB oracle
    * replays the same fold in hugeint arithmetic.
    */
  private[graft] def minhashSignature(t: TokenScan, k: Int, shingleN: Int): Array[Long] = {
    require(shingleN > 0, s"shingleN > 0, got $shingleN")
    val starts = new Array[Int](shingleN)
    val ends = new Array[Int](shingleN)
    // slot i's remix seed, i * 0xA24BAED4963EE407 (mod 2^64): read from a
    // table, remix vectorizes; computed in its loop, it does not and takes
    // about twice as long per shingle
    val seed = new Array[Long](k)
    var i = 0
    while (i < k) { seed(i) = i.toLong * 0xA24BAED4963EE407L; i += 1 }
    var sig = Array.emptyLongArray
    var count = 0
    var slot = 0
    while (t.next()) {
      if (count == 0) { sig = new Array[Long](k); java.util.Arrays.fill(sig, Long.MaxValue) }
      starts(slot) = t.start
      ends(slot) = t.end
      count += 1
      slot += 1
      if (slot == shingleN) slot = 0
      // once full, `slot` is the ring's oldest token
      if (count >= shingleN) remix(sig, seed, k, window(t, starts, ends, slot, shingleN))
    }
    if (count > 0 && count < shingleN) remix(sig, seed, k, window(t, starts, ends, 0, count))
    sig
  }

  /** FNV-1a of the `m` ring tokens from slot `first`, joined by spaces. */
  private def window(t: TokenScan, starts: Array[Int], ends: Array[Int], first: Int,
      m: Int): Long = {
    var h = TokenScan.FnvBasis
    var r = first
    var j = 0
    while (j < m) {
      if (j > 0) { h ^= ' '; h *= TokenScan.FnvPrime }
      h = t.fnv(h, starts(r), ends(r))
      r += 1
      if (r == starts.length) r = 0
      j += 1
    }
    h
  }

  /** Folds one shingle hash into the `k` signature slots. */
  private def remix(sig: Array[Long], seed: Array[Long], k: Int, h: Long): Unit = {
    var i = 0
    while (i < k) {
      val m = mix64(h ^ seed(i))
      val s = sig(i)
      val d = m - s
      // all ones iff m < s (signed, overflow-safe): a branch-free min
      val lt = (d ^ ((m ^ s) & (d ^ m))) >> 63
      sig(i) = s ^ ((s ^ m) & lt)
      i += 1
    }
  }

  def bandHashes(sig: ArrayData, bands: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.Dedup.bandHashesOf(sig.toLongArray(), bands))

  /** Share of the `k` signature slots on which `a` and `b` hold the same
    * value: `aggregate(zip_with(a, b, (x, y) -> x = y ? 1 : 0), 0, +) / k`
    * without the interpreted higher-order functions (zip_with pads the
    * shorter array with nulls, and a null slot never matches).
    */
  def slotMatch(a: ArrayData, b: ArrayData, k: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m.toDouble / k
  }

  private val Space = UTF8String.fromString(" ")

  /** `toks` without the indexes listed in `covered`, joined by single
    * spaces: `concat_ws(" ", filter(toks, (t, i) -> !array_contains(covered,
    * i)))` in one pass, without the interpreted higher-order function.
    */
  def exciseTokens(toks: ArrayData, covered: ArrayData): UTF8String = {
    val n = toks.numElements()
    val drop = new Array[Boolean](n)
    var i = 0
    while (i < covered.numElements()) {
      if (!covered.isNullAt(i)) {
        val c = covered.getInt(i)
        if (c >= 0 && c < n) drop(c) = true
      }
      i += 1
    }
    val kept = new Array[UTF8String](n)
    var k = 0
    i = 0
    while (i < n) {
      if (!drop(i)) { kept(k) = toks.getUTF8String(i); k += 1 }
      i += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOf(kept, k): _*)
  }

  /** Multiplicative inverse of 31 mod 2^64 (31 is odd, so it exists):
    * rolling window removal divides by powers of 31 exactly.
    */
  private val Inv31: Long = {
    var x = 1L
    var i = 0
    while (i < 6) { x = x * (2L - 31L * x); i += 1 } // Newton doubling
    require(x * 31L == 1L)
    x
  }

  /** All `w`-token sliding-window fingerprints of a token array, value-
    * identical to `fingerprint64(concat_ws(" ", slice(toks, i+1, w)))` for
    * every 0-based start i (FunctionsSpec-pinned against that literal
    * formula) — WITHOUT building any window string, in O(total chars +
    * windows) long multiplies. Two exact identities over mod-2^64
    * arithmetic make it rolling:
    *  - concatenation: h(A+B) = h(A)·31^len(B) + poly(B), so each token's
    *    (poly, 31^len) pair is computed once from its chars;
    *  - prefix removal: poly(Rest) = poly(Pref+Rest) − poly(Pref)·31^len(Rest),
    *    and dividing by 31^k is multiplication by Inv31^k (31 is odd —
    *    exactly invertible mod 2^64).
    * Window i+1 then derives from window i by removing the "tok_i ␣"
    * prefix and appending "␣ tok_(i+w)" — ~6 multiplies per position
    * instead of a w-token refold (and instead of the original shape's
    * window-sized String build per position). Fewer than w tokens →
    * empty array (the callers' guard semantics).
    */
  def passageFps(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val poly = new Array[Long](n)
    val pow = new Array[Long](n) // 31^len(tok)
    val invPow1 = new Array[Long](n) // Inv31^(len(tok)+1)
    var j = 0
    while (j < n) {
      // fingerprint() folds UTF-16 chars — decode once per token (the old
      // shape decoded every token once per covering window)
      val s = toks.getUTF8String(j).toString
      var p = 0L
      var pw = 1L
      var ip = Inv31
      var i = 0
      while (i < s.length) {
        p = 31L * p + s.charAt(i); pw *= 31L; ip *= Inv31; i += 1
      }
      poly(j) = p
      pow(j) = pw
      invPow1(j) = ip
      j += 1
    }
    val H0 = 1125899906842597L // fingerprint()'s seed
    val out = new Array[Long](n - w + 1)
    if (w == 1) {
      // single-token windows: no separators, direct per-token hash
      var i = 0
      while (i < n) { out(i) = H0 * pow(i) + poly(i); i += 1 }
      return UnsafeArrayData.fromPrimitiveArray(out)
    }
    // first window: fold once; p = poly of the joined string, powL = 31^len
    var p = 0L
    var powL = 1L
    var k = 0
    while (k < w) {
      if (k > 0) { p = 31L * p + ' '.toInt; powL *= 31L }
      p = p * pow(k) + poly(k)
      powL *= pow(k)
      k += 1
    }
    out(0) = H0 * powL + p
    var i = 0
    while (i < n - w) {
      // remove the "tok_i ␣" prefix (len_i + 1 chars), append "␣ tok_(i+w)"
      val powTail = powL * invPow1(i) // 31^(len - len_i - 1)
      val pref = poly(i) * 31L + ' '.toInt // poly("tok_i ␣")
      val ap = pow(i + w)
      p = (p - pref * powTail) * (31L * ap) + (' '.toInt * ap + poly(i + w))
      powL = powTail * 31L * ap
      out(i + 1) = H0 * powL + p
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** 64-bit simhash over whitespace tokens ([[DedupKernels.simhash]]). */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    DedupKernels.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DedupKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash64"
}

/** k-permutation minhash signature ([[DedupKernels.minhashSignature]]). */
case class MinhashSig(child: Expression, k: Int, shingleN: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    DedupKernels.minhashSig(input.asInstanceOf[UTF8String], k, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DedupKernels.minhashSig($c, $k, $shingleN)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

/** Per-band FNV fold over an already-computed signature — separated from
  * [[MinhashSig]] so the (heavy) shingling runs once and band hashes derive
  * from the materialized signature column.
  */
case class MinhashBandHashes(child: Expression, bands: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    DedupKernels.bandHashes(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DedupKernels.bandHashes($c, $bands)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_band_hashes"
}

/** MinHash slot-match estimate of two signatures ([[DedupKernels.slotMatch]]):
  * a join condition or projection holding it stays inside whole-stage
  * codegen.
  */
case class SlotMatch(left: Expression, right: Expression, k: Int) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.slotMatch(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DedupKernels.slotMatch($a, $b, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SlotMatch = copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_slot_match"
}

/** A token array with the covered token indexes removed, space-joined
  * ([[DedupKernels.exciseTokens]]): the passage strip's rewrite, kept
  * inside whole-stage codegen.
  */
case class ExciseTokens(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(toks: Any, covered: Any): Any =
    DedupKernels.exciseTokens(toks.asInstanceOf[ArrayData], covered.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, c) => s"graft.functions.DedupKernels.exciseTokens($t, $c)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExciseTokens = copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_excise_tokens"
}

/** Sliding-window passage fingerprints over a token array
  * ([[DedupKernels.passageFps]]) — the map stage of the passage-dedup
  * family, kept inside whole-stage codegen.
  */
case class PassageFps(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    DedupKernels.passageFps(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.DedupKernels.passageFps($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): PassageFps =
    copy(child = newChild)

  override def prettyName: String = "graft_passage_fps"
}

object DedupFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def simhash64(c: Column): Column =
    ColumnBridge.column(Simhash64(ColumnBridge.expression(c)))

  def passageFps(c: Column, w: Int): Column =
    ColumnBridge.column(PassageFps(ColumnBridge.expression(c), w))

  def minhashSig(c: Column, k: Int, shingleN: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(c), k, shingleN))

  def slotMatch(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(SlotMatch(ColumnBridge.expression(a), ColumnBridge.expression(b), k))

  def exciseTokens(toks: Column, covered: Column): Column =
    ColumnBridge.column(ExciseTokens(ColumnBridge.expression(toks),
      ColumnBridge.expression(covered)))

  def minhashBandHashes(c: Column, bands: Int): Column =
    ColumnBridge.column(MinhashBandHashes(ColumnBridge.expression(c), bands))
}
