package graft

/** The per-length search `graft.core.grid.PyFloat.repr` used before it
  * generated digits directly: for p = 1..17, format with `%.{p-1}e` and keep
  * the first string that parses back to the same double. Kept only as the
  * reference the property test compares the digit generator against; the
  * Formatter rounds its own (not always shortest) digits a second time, so
  * on some doubles above 2^59 this is neither shortest nor nearest.
  */
object LegacyPyFloat {
  def repr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"

    val neg = d < 0
    val ad = math.abs(d)
    // shortest digit string that round-trips
    var digits: String = null
    var exp10 = 0
    var p = 1
    var found = false
    while (!found && p <= 17) {
      val s = String.format("%." + (p - 1) + "e", Double.box(ad))
      if (java.lang.Double.parseDouble(s) == ad) {
        val eIdx = s.indexOf('e')
        val mant = s.substring(0, eIdx).replace(".", "")
        exp10 = Integer.parseInt(s.substring(eIdx + 1))
        // strip trailing zeros from mantissa (keep at least one digit)
        var end = mant.length
        while (end > 1 && mant.charAt(end - 1) == '0') end -= 1
        digits = mant.substring(0, end)
        found = true
      }
      p += 1
    }
    if (digits == null) { // should not happen
      return d.toString
    }
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (exp10 >= -4 && exp10 < 16) {
      if (exp10 >= digits.length - 1) {
        // integral-ish: digits then zeros then ".0"
        sb.append(digits)
        var i = digits.length - 1
        while (i < exp10) { sb.append('0'); i += 1 }
        sb.append(".0")
      } else if (exp10 >= 0) {
        sb.append(digits.substring(0, exp10 + 1)).append('.').append(digits.substring(exp10 + 1))
      } else {
        sb.append("0.")
        var i = -1
        while (i > exp10) { sb.append('0'); i -= 1 }
        sb.append(digits)
      }
    } else {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e')
      if (exp10 >= 0) sb.append('+') else sb.append('-')
      val ae = math.abs(exp10)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }
}
