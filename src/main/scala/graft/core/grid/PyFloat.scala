package graft.core.grid

import java.lang.Math.multiplyHigh
import java.math.BigInteger

/** Python `repr(float)`: the shortest decimal that parses back to the same
  * double; among several of that length the one nearest the double, ties to
  * an even last digit. Positional when the decimal exponent is in [-4, 16),
  * else `d.ddde±XX` with at least two exponent digits.
  *
  * The digits come from Schubfach (R. Giulietti, "The Schubfach way to render
  * doubles", 2020): three 128-bit products per double, no candidate search,
  * no Formatter and no parse. It departs from the JDK's rendering of the same
  * algorithm in one place: the JDK keeps at least two digits, CPython does
  * not, so the two smallest subnormals print as `5e-324` and `1e-323`.
  * Pinned against CPython by the `pyfloat/cpython_repr.tsv` test fixture.
  */
object PyFloat {
  private final val P = 53 // significand bits, hidden bit included
  private final val QMin = -1074 // exponent of the least subnormal's unit
  private final val CMin = 1L << (P - 1)
  private final val KMin = -324
  private final val KMax = 292
  private final val Mask63 = (1L << 63) - 1

  /** g(k) = floor(10^-k / 2^r) + 1, r such that 2^125 <= 10^-k / 2^r < 2^126,
    * stored as its high and low 63-bit halves at 2(k - KMin) and 2(k - KMin) + 1.
    */
  private val G: Array[Long] = {
    val g = new Array[Long](2 * (KMax - KMin + 1))
    var k = KMin
    while (k <= KMax) {
      val r = flog2pow10(-k) - 125
      val pow10 = BigInteger.TEN.pow(math.abs(k))
      val beta =
        if (k <= 0) { if (r >= 0) pow10.shiftRight(r) else pow10.shiftLeft(-r) }
        else BigInteger.ONE.shiftLeft(-r).divide(pow10)
      val gk = beta.add(BigInteger.ONE)
      g(2 * (k - KMin)) = gk.shiftRight(63).longValueExact
      g(2 * (k - KMin) + 1) = gk.longValue & Mask63
      k += 1
    }
    g
  }

  private val scratch = new ThreadLocal[Array[Char]] {
    override def initialValue(): Array[Char] = new Array[Char](48)
  }

  // Fixed-point forms of the three logarithms; exact over the exponents a
  // double reaches (pinned against BigInteger arithmetic in PropertySpec).

  /** floor(log10(2^e)) */
  private[graft] def flog10pow2(e: Int): Int = ((e * 661971961083L) >> 41).toInt

  /** floor(log10(3/4 * 2^e)) */
  private[graft] def flog10threeQuartersPow2(e: Int): Int =
    ((e * 661971961083L - 274743187321L) >> 41).toInt

  /** floor(log2(10^e)) */
  private[graft] def flog2pow10(e: Int): Int = ((e * 913124641741L) >> 38).toInt

  def repr(d: Double): String = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val neg = bits < 0
    val t = bits & (CMin - 1)
    val bq = (bits >>> (P - 1)).toInt & 0x7FF
    if (bq == 0x7FF) return if (t != 0) "nan" else if (neg) "-inf" else "inf"
    if (bq == 0) {
      if (t == 0) return if (neg) "-0.0" else "0.0"
      return toDecimal(neg, QMin, t)
    }
    val c = CMin | t
    val mq = 1075 - bq // d = c * 2^-mq
    if (0 < mq && mq < P) {
      // integral values below 2^53 are their own shortest decimal
      val f = c >> mq
      if (f << mq == c) return render(neg, f, 0)
    }
    toDecimal(neg, -mq, c)
  }

  /** The shortest decimal in the rounding interval of c * 2^q (figure 7 of
    * the paper), handed to [[render]] as significand and decimal exponent.
    */
  private def toDecimal(neg: Boolean, q: Int, c: Long): String = {
    val out = c.toInt & 1 // an even c keeps its interval's bounds
    val cb = c << 2
    val cbr = cb + 2
    var cbl = 0L
    var k = 0
    if (c != CMin || q == QMin) {
      cbl = cb - 2
      k = flog10pow2(q)
    } else {
      // a power of two: the gap below is half the gap above
      cbl = cb - 1
      k = flog10threeQuartersPow2(q)
    }
    val h = q + flog2pow10(-k) + 2
    val g1 = G(2 * (k - KMin))
    val g0 = G(2 * (k - KMin) + 1)
    val vb = rop(g1, g0, cb << h)
    val vbl = rop(g1, g0, cbl << h)
    val vbr = rop(g1, g0, cbr << h)

    val s = vb >> 2
    if (s >= 10) {
      // the interval is narrower than 10^(k+1), so it holds at most one
      // multiple of 10^(k+1): when exactly one of the two around v is in,
      // it is the shortest decimal
      val sp10 = 10 * multiplyHigh(s, 115292150460684698L << 4)
      val tp10 = sp10 + 10
      val upin = vbl + out <= (sp10 << 2)
      val wpin = (tp10 << 2) + out <= vbr
      if (upin != wpin) return render(neg, if (upin) sp10 else tp10, k)
    }
    // otherwise s * 10^k or (s + 1) * 10^k: the one inside, or the nearer
    val t = s + 1
    val uin = vbl + out <= (s << 2)
    val win = (t << 2) + out <= vbr
    if (uin != win) return render(neg, if (uin) s else t, k)
    val cmp = vb - ((s + t) << 1)
    render(neg, if (cmp < 0 || cmp == 0 && (s & 1) == 0) s else t, k)
  }

  /** Round-to-odd of cp * g * 2^-127, g = g1 * 2^63 + g0 (figure 8). */
  private def rop(g1: Long, g0: Long, cp: Long): Long = {
    val x1 = multiplyHigh(g0, cp)
    val y0 = g1 * cp
    val y1 = multiplyHigh(g1, cp)
    val z = (y0 >>> 1) + x1
    val vbp = y1 + (z >>> 63)
    vbp | (((z & Mask63) + Mask63) >>> 63)
  }

  /** Python's layout of f * 10^e, f > 0. */
  private def render(neg: Boolean, f0: Long, e0: Int): String = {
    var f = f0
    var e = e0
    while (f % 10 == 0) { f /= 10; e += 1 }
    val buf = scratch.get()
    // the significand's digits, right-aligned in buf(32 until 48)
    var len = 0
    while (f != 0) {
      len += 1
      buf(48 - len) = ('0' + f % 10).toChar
      f /= 10
    }
    val ds = 48 - len
    val exp10 = e + len - 1
    var n = 0
    if (neg) { buf(0) = '-'; n = 1 }
    if (exp10 >= -4 && exp10 < 16) {
      if (exp10 >= len - 1) {
        System.arraycopy(buf, ds, buf, n, len)
        n += len
        var z = exp10 - len + 1
        while (z > 0) { buf(n) = '0'; n += 1; z -= 1 }
        buf(n) = '.'
        buf(n + 1) = '0'
        n += 2
      } else if (exp10 >= 0) {
        System.arraycopy(buf, ds, buf, n, exp10 + 1)
        n += exp10 + 1
        buf(n) = '.'
        n += 1
        System.arraycopy(buf, ds + exp10 + 1, buf, n, len - exp10 - 1)
        n += len - exp10 - 1
      } else {
        buf(n) = '0'
        buf(n + 1) = '.'
        n += 2
        var z = -exp10 - 1
        while (z > 0) { buf(n) = '0'; n += 1; z -= 1 }
        System.arraycopy(buf, ds, buf, n, len)
        n += len
      }
    } else {
      buf(n) = buf(ds)
      n += 1
      if (len > 1) {
        buf(n) = '.'
        System.arraycopy(buf, ds + 1, buf, n + 1, len - 1)
        n += len
      }
      buf(n) = 'e'
      buf(n + 1) = if (exp10 < 0) '-' else '+'
      n += 2
      val ae = math.abs(exp10)
      if (ae >= 100) { buf(n) = ('0' + ae / 100).toChar; n += 1 }
      buf(n) = ('0' + ae / 10 % 10).toChar
      buf(n + 1) = ('0' + ae % 10).toChar
      n += 2
    }
    new String(buf, 0, n)
  }
}
