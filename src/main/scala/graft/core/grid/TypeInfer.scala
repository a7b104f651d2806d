package graft.core.grid

/** Cell value type inference replicating the reference's Python semantics
  * exactly (reference: readers/csv_reader.py:329-409): booleans first
  * (including "1"/"0"), then int (comma-stripped), then float, then a
  * date-likeness heuristic, else string. The returned string is the
  * Python-`str()` rendering of the converted value because header extraction
  * in the reference does `str(cell.value).strip()`
  * (island_detector.py:1343-1355).
  */
object TypeInfer {

  private val BoolTrue = Set("true", "yes", "1")
  private val BoolAll = Set("true", "false", "yes", "no", "1", "0")
  private val IntRe = "^[+-]?\\d+$".r
  private val FloatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r
  private val MonthWords = Array("jan", "feb", "mar", "apr", "may", "jun", "jul",
    "aug", "sep", "oct", "nov", "dec")

  /** Mutable result holder for the tuple-free kernel path: one instance per
    * parse (NOT per cell), so inference allocates nothing beyond the value
    * string itself. `dt` is always one of the shared type-name constants.
    *
    * Span mode ([[inferSpan]]) additionally reports: `identity` — the
    * Python render IS the trimmed source span (py left null; build a
    * span-backed cell over [vFrom, vUntil) instead of materializing), with
    * `vFrom`/`vUntil` the String.trim-semantics trimmed bounds.
    */
  final class Res {
    var py: String = null
    var dt: String = null
    var identity: Boolean = false
    var vFrom: Int = 0
    var vUntil: Int = 0
    @inline private[TypeInfer] def set(p: String, d: String): Unit = { py = p; dt = d }
  }

  /** Returns (pythonStrOfConvertedValue, dataType). For "empty" the value is
    * null. Tuple-allocating convenience wrapper over [[inferInto]].
    */
  def infer(value: String): (String, String) = {
    val r = new Res
    inferInto(value, r)
    (r.py, r.dt)
  }

  /** Tuple-free inference into a caller-owned holder (the kernel hot path). */
  def inferInto(value: String, out: Res): Unit = {
    out.identity = false
    val stripped = value.trim
    if (stripped.isEmpty) return out.set(null, "empty")

    // fast path: plain ASCII digits (the dominant numeric-cell case) —
    // same result as the int path below, no regex/BigInt
    if (stripped.length <= 18) {
      var allDigits = true
      var i = 0
      while (allDigits && i < stripped.length) {
        val ch = stripped.charAt(i)
        if (ch < '0' || ch > '9') allDigits = false
        i += 1
      }
      if (allDigits) {
        if (stripped.length == 1 && (stripped.charAt(0) == '0' || stripped.charAt(0) == '1')) {
          // "0"/"1" are booleans in the reference (csv_reader.py:344-346)
          return out.set(if (stripped.charAt(0) == '1') "True" else "False", "boolean")
        }
        // already canonical (no leading zero): Python str(int(s)) == s
        if (stripped.charAt(0) != '0') return out.set(stripped, "number")
        return out.set(java.lang.Long.parseLong(stripped).toString, "number")
      }
    }

    // fast path: digits '.' digits (the dominant money/decimal cell) —
    // a strict subset of FloatRe below, same result, no regex matcher
    if (stripped.length <= 17) {
      var digits = 0
      var dots = 0
      var ok = true
      var i = 0
      while (ok && i < stripped.length) {
        val ch = stripped.charAt(i)
        if (ch >= '0' && ch <= '9') digits += 1
        else if (ch == '.') dots += 1
        else ok = false
        i += 1
      }
      if (ok && dots == 1 && digits > 0) {
        // canonical-form shortcut: for a decimal with ≤7 significant digits,
        // no exponent, a canonical integer part (no leading zero unless the
        // "0." form) and no trailing zero, the shortest round-tripping repr
        // of its double IS the input string (any shorter decimal differs by
        // far more than half an ulp), so repr(float(s)) == s — skip the
        // shortest-repr search. Pinned by the PyCompatSpec property.
        val dot = stripped.indexOf('.')
        val intLen = dot
        val fracLen = stripped.length - dot - 1
        val canonicalInt =
          intLen >= 1 && (stripped.charAt(0) != '0' || intLen == 1)
        val sigDigits =
          if (intLen == 1 && stripped.charAt(0) == '0') fracLen else intLen + fracLen
        // Python repr switches to scientific notation below 1e-4 ("0.00001"
        // → "1e-05"), so the identity shortcut also requires magnitude
        // >= 1e-4: for the "0.xxx" form the fraction may carry at most 3
        // leading zeros (first significant digit no deeper than 10^-4).
        val magnitudeOk =
          if (intLen == 1 && stripped.charAt(0) == '0') {
            var z = 0
            while (z < fracLen && stripped.charAt(dot + 1 + z) == '0') z += 1
            z <= 3 && z < fracLen
          } else true
        if (canonicalInt && fracLen >= 1 && sigDigits <= 7 && magnitudeOk &&
            stripped.charAt(stripped.length - 1) != '0') {
          return out.set(stripped, "number")
        }
        val d = java.lang.Double.parseDouble(stripped)
        return out.set(PyFloat.repr(d), "number")
      }
    }

    inferSlow(stripped, out)
  }

  /** The tail of [[inferInto]] after the allocation-free fast paths: bool
    * words, comma-stripped int, float, date-likeness, string. Shared by the
    * String path and [[inferSpan]]'s materializing fallback.
    */
  private def inferSlow(stripped: String, out: Res): Unit = {
    val low = stripped.toLowerCase
    if (BoolAll.contains(low))
      return out.set(if (BoolTrue.contains(low)) "True" else "False", "boolean")

    // int path: no '.' and no 'e' in the original, thousands separators stripped
    if (!stripped.contains('.') && !low.contains('e')) {
      val noComma = stripped.replace(",", "")
      if (IntRe.matches(noComma)) {
        try {
          val bi = BigInt(noComma)
          return out.set(bi.toString, "number")
        } catch { case _: NumberFormatException => () }
      }
    }

    // float path
    val noComma = stripped.replace(",", "")
    if (FloatRe.matches(noComma)) {
      try {
        val d = java.lang.Double.parseDouble(noComma)
        return out.set(PyFloat.repr(d), "number")
      } catch { case _: NumberFormatException => () }
    }

    if (looksLikeDate(stripped)) return out.set(stripped, "date")
    out.set(stripped, "string")
  }

  @inline private def subStr(cs: CharSequence, a: Int, b: Int): String = cs match {
    case s: String => s.substring(a, b)
    case sl: CharSlab => sl.str(a, b)
    case other => other.subSequence(a, b).toString
  }

  /** Case-insensitive span == ASCII word, via per-char Character.toLowerCase.
    * Exact vs `stripped.toLowerCase == w` for these targets: no character's
    * full-string lowercase special casing (the İ→"i̇" expansion is the only
    * one in the default locale) can produce the pure-ASCII bool words, and
    * the sole non-ASCII→ASCII simple mapping (U+212A KELVIN → 'k') hits no
    * target word.
    */
  private def eqLower(cs: CharSequence, from: Int, until: Int, w: String): Boolean = {
    if (until - from != w.length) return false
    var i = 0
    while (i < w.length) {
      if (Character.toLowerCase(cs.charAt(from + i)) != w.charAt(i)) return false
      i += 1
    }
    true
  }

  /** [[looksLikeDate]] over a span, allocation-free. Month-word search uses
    * per-char lowercase — exact for the same reason as [[eqLower]] (no month
    * word contains 'i' or 'k', the only chars reachable via special-cased
    * lowercasing).
    */
  private def looksLikeDateSpan(cs: CharSequence, from: Int, until: Int): Boolean = {
    val len = until - from
    var hasSeparator = false
    var hasDigits = false
    var dashes = 0
    var slashes = 0
    var i = from
    while (i < until) {
      val c = cs.charAt(i)
      if (c == '-' || c == '/' || c == '.' || c == ' ') hasSeparator = true
      if (Character.isDigit(c)) hasDigits = true
      if (c == '-') dashes += 1
      else if (c == '/') slashes += 1
      i += 1
    }
    if (!hasSeparator || !hasDigits) return false
    if (len == 10 && (dashes == 2 || slashes == 2)) return true
    if (len < 8) return false
    var w = 0
    while (w < MonthWords.length) {
      val m = MonthWords(w)
      var j = from
      val last = until - 3
      while (j <= last) {
        if (Character.toLowerCase(cs.charAt(j)) == m.charAt(0) &&
            Character.toLowerCase(cs.charAt(j + 1)) == m.charAt(1) &&
            Character.toLowerCase(cs.charAt(j + 2)) == m.charAt(2)) return true
        j += 1
      }
      w += 1
    }
    false
  }

  /** Span-mode inference: identical verdicts to
    * `inferInto(cs.subSequence(from0, until0).toString, out)` but without
    * materializing a String for identity-rendered outcomes (canonical
    * numbers, dates, plain strings — the overwhelming majority of cells).
    * On `out.identity == true` the value is the trimmed span
    * [out.vFrom, out.vUntil) and `out.py` is null; otherwise `out.py` holds
    * the materialized render exactly as in String mode. Conversion paths
    * (non-canonical numbers, comma'd ints, exotic floats) materialize the
    * trimmed span and delegate to the shared slow tail, so their semantics
    * are the String path's by construction. Equivalence is property-pinned
    * (PropertySpec) over arbitrary unicode, trims, and chunk boundaries.
    */
  def inferSpan(cs: CharSequence, from0: Int, until0: Int, out: Res): Unit = {
    out.identity = false
    // String.trim semantics exactly: strip chars <= ' '
    var from = from0
    var until = until0
    while (from < until && cs.charAt(from) <= ' ') from += 1
    while (until > from && cs.charAt(until - 1) <= ' ') until -= 1
    out.vFrom = from
    out.vUntil = until
    val len = until - from
    if (len == 0) return out.set(null, "empty")

    // fast path: plain ASCII digits (mirrors inferInto exactly)
    if (len <= 18) {
      var allDigits = true
      var i = from
      while (allDigits && i < until) {
        val ch = cs.charAt(i)
        if (ch < '0' || ch > '9') allDigits = false
        i += 1
      }
      if (allDigits) {
        if (len == 1 && (cs.charAt(from) == '0' || cs.charAt(from) == '1'))
          return out.set(if (cs.charAt(from) == '1') "True" else "False", "boolean")
        if (cs.charAt(from) != '0') { out.identity = true; return out.set(null, "number") }
        return out.set(java.lang.Long.parseLong(subStr(cs, from, until)).toString, "number")
      }
    }

    // fast path: digits '.' digits with the canonical-form identity shortcut
    if (len <= 17) {
      var digits = 0
      var dots = 0
      var ok = true
      var i = from
      while (ok && i < until) {
        val ch = cs.charAt(i)
        if (ch >= '0' && ch <= '9') digits += 1
        else if (ch == '.') dots += 1
        else ok = false
        i += 1
      }
      if (ok && dots == 1 && digits > 0) {
        var dot = from
        while (cs.charAt(dot) != '.') dot += 1
        val intLen = dot - from
        val fracLen = until - dot - 1
        val canonicalInt = intLen >= 1 && (cs.charAt(from) != '0' || intLen == 1)
        val sigDigits =
          if (intLen == 1 && cs.charAt(from) == '0') fracLen else intLen + fracLen
        val magnitudeOk =
          if (intLen == 1 && cs.charAt(from) == '0') {
            var z = 0
            while (z < fracLen && cs.charAt(dot + 1 + z) == '0') z += 1
            z <= 3 && z < fracLen
          } else true
        if (canonicalInt && fracLen >= 1 && sigDigits <= 7 && magnitudeOk &&
            cs.charAt(until - 1) != '0') {
          out.identity = true
          return out.set(null, "number")
        }
        val d = java.lang.Double.parseDouble(subStr(cs, from, until))
        return out.set(PyFloat.repr(d), "number")
      }
    }

    // bool words ("1"/"0" were handled by the digits fast path above,
    // exactly as in inferInto)
    if (len <= 5) {
      if (eqLower(cs, from, until, "true") || eqLower(cs, from, until, "yes"))
        return out.set("True", "boolean")
      if (eqLower(cs, from, until, "false") || eqLower(cs, from, until, "no"))
        return out.set("False", "boolean")
    }

    // int/float paths: IntRe/FloatRe are ASCII-only, so any char outside
    // [0-9 + - . , e E] (or a digit-free span) can never match — skip
    // without materializing. Possible matches materialize and run the
    // SHARED slow tail, so conversion semantics are inferInto's verbatim.
    var numericPossible = true
    var hasDigit = false
    var i = from
    while (numericPossible && i < until) {
      val ch = cs.charAt(i)
      if (ch >= '0' && ch <= '9') hasDigit = true
      else if (ch != '+' && ch != '-' && ch != '.' && ch != ',' && ch != 'e' && ch != 'E')
        numericPossible = false
      i += 1
    }
    if (numericPossible && hasDigit) {
      // the slow tail may still conclude date/string (e.g. "1,2,3" fails
      // both regexes): py is then the materialized stripped — same
      // allocations as the String path, no identity claim
      return inferSlow(subStr(cs, from, until), out)
    }

    if (looksLikeDateSpan(cs, from, until)) {
      out.identity = true
      return out.set(null, "date")
    }
    out.identity = true
    out.set(null, "string")
  }

  /** reference: csv_reader.py:371-409. */
  def looksLikeDate(value: String): Boolean = {
    val hasSeparator = value.exists(c => c == '-' || c == '/' || c == '.' || c == ' ')
    val hasDigits = value.exists(_.isDigit)
    if (!hasSeparator || !hasDigits) return false
    val low = value.toLowerCase
    val p1 = value.length == 10 && value.count(_ == '-') == 2
    val p2 = value.length == 10 && value.count(_ == '/') == 2
    val p3 = value.length >= 8 && MonthWords.exists(low.contains)
    p1 || p2 || p3
  }

  /** Extractor-side cell typing (reference: dataframe_extractor.py:786-819).
    * Operates on the python-str value + dataType pair we carry.
    */
  private val BoolWords = Set("true", "false", "yes", "no", "y", "n")

  /** Extractor type codes for the reference's "empty", "numeric", "text",
    * "date" and "boolean" — primitive tallies and the SpanStats byte memo
    * use these.
    */
  final val EtEmpty = 0
  final val EtNumeric = 1
  final val EtText = 2
  final val EtDate = 3
  final val EtBool = 4

  /** The extractor's cell type code for a loaded cursor position — no Cell
    * object, no cache (the extractor memoizes per span in its byte matrix).
    * A loaded position is never empty (grids store no empty cells), so
    * EtEmpty is unreachable here; dataType codes 2/3 are number/boolean
    * (Cell.DataTypes).
    */
  private[core] def extractorTypeCode(cur: GridCursor): Int =
    cur.dataTypeCode match {
      case 2 => EtNumeric
      case 3 => EtBool
      case _ => classifyExtractor(cur.valueCs, cur.valueCsFrom, cur.valueCsUntil)
    }

  /** `PlainFloatRe.matches(value.trim)` at a loaded cursor position,
    * without materializing the value: the horizontal header path's
    * per-cell numeric test (no comma stripping).
    */
  private[core] def cursorPlainFloat(cur: GridCursor): Boolean = {
    val cs = cur.valueCs
    var a = cur.valueCsFrom
    var b = cur.valueCsUntil
    while (a < b && cs.charAt(a) <= ' ') a += 1
    while (b > a && cs.charAt(b - 1) <= ' ') b -= 1
    matchesFloat(cs, a, b, skipCommas = false)
  }

  /** Charwise replay of the extractor's string branch — NO value / trim /
    * noComma String materialization (the extract-ON path classified up to
    * ~100 rows × cols per grid through materialized copies):
    *   v = value.trim; noComma = v.replace(",", "")
    *   FloatRe(noComma) → numeric; len(v) >= 6 ∧ v has -,/,: → date;
    *   v.toLowerCase ∈ BoolWords → boolean; else text.
    * The float/date arithmetic is char-exact for ALL inputs (Java's \d is
    * ASCII; the date test is plain char equality); only the BoolWords
    * lowercase needs locale semantics, so a non-ASCII candidate falls back
    * to String.toLowerCase there. The reference formula ≡ this replay is
    * property-pinned over arbitrary unicode in PropertySpec.
    */
  private[grid] def classifyExtractor(cs: CharSequence, from0: Int, until0: Int): Int = {
    var a = from0
    var b = until0
    while (a < b && cs.charAt(a) <= ' ') a += 1
    while (b > a && cs.charAt(b - 1) <= ' ') b -= 1
    if (matchesFloat(cs, a, b, skipCommas = true)) return EtNumeric
    if (b - a >= 6) {
      var i = a
      while (i < b) {
        val ch = cs.charAt(i)
        if (ch == '-' || ch == '/' || ch == ':') return EtDate
        i += 1
      }
    }
    // BoolWords membership: words are 1-5 ASCII letters, so longer values
    // can't match (String.toLowerCase never shrinks a string)
    if (b - a >= 1 && b - a <= 5) {
      var i = a
      var ascii = true
      while (i < b && ascii) { if (cs.charAt(i) >= 0x80) ascii = false; i += 1 }
      if (!ascii) {
        // locale-exact lowercase on the (rare) non-ASCII candidate
        return if (BoolWords.contains(SpanCodec.sub(cs, a, b).toLowerCase)) EtBool
          else EtText
      }
      if (isBoolWordAscii(cs, a, b)) return EtBool
    }
    EtText
  }

  /** `FloatRe.matches(trimmed.replace(",", ""))` replayed charwise over
    * [a, b) — commas are skipped at ANY position when `skipCommas` (the
    * extractor's noComma semantics); the pattern is
    * ^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$ with ASCII digits.
    */
  private[core] def matchesFloat(cs: CharSequence, a: Int, b: Int,
      skipCommas: Boolean): Boolean = {
    var i = a
    @inline def cur(): Int = {
      if (skipCommas) while (i < b && cs.charAt(i) == ',') i += 1
      if (i < b) cs.charAt(i) else -1
    }
    var ch = cur()
    if (ch == '+' || ch == '-') { i += 1; ch = cur() }
    var d1 = 0
    while (ch >= '0' && ch <= '9') { d1 += 1; i += 1; ch = cur() }
    var sawDot = false
    var d2 = 0
    if (ch == '.') {
      sawDot = true
      i += 1; ch = cur()
      while (ch >= '0' && ch <= '9') { d2 += 1; i += 1; ch = cur() }
    }
    if (d1 == 0 && !(sawDot && d2 >= 1)) return false
    if (ch == 'e' || ch == 'E') {
      i += 1; ch = cur()
      if (ch == '+' || ch == '-') { i += 1; ch = cur() }
      var d3 = 0
      while (ch >= '0' && ch <= '9') { d3 += 1; i += 1; ch = cur() }
      if (d3 == 0) return false
    }
    cur() == -1
  }

  private def isBoolWordAscii(cs: CharSequence, a: Int, b: Int): Boolean = {
    @inline def is(w: String): Boolean = {
      if (b - a != w.length) return false
      var i = 0
      while (i < w.length) {
        val ch = cs.charAt(a + i)
        val lo = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
        if (lo != w.charAt(i)) return false
        i += 1
      }
      true
    }
    is("true") || is("false") || is("yes") || is("no") || is("y") || is("n")
  }
}
