package graft.core.html

import graft.core.detect.GridKind
import graft.core.grid.{Cell, CellGrid}

/** Delimiter detection for embedded plain-text regions, porting the
  * reference's enhanced scoring (reference: readers/text_reader.py:161-301)
  * and the delimiter→format mapping of the text content analyzer
  * (reference: utils/file_magic.py:484-585).
  */
object DelimitedText {

  val Delimiters: Seq[Char] = Seq('\t', ',', '|', ';', ' ')

  /** `line.split(delim.toString, -1)` for a literal char without the
    * per-call Pattern.compile (keeps trailing empty fields).
    */
  private[graft] def splitChar(line: String, delimiter: Char): Array[String] = {
    var parts = 1
    var i = line.indexOf(delimiter)
    while (i >= 0) { parts += 1; i = line.indexOf(delimiter, i + 1) }
    val out = new Array[String](parts)
    var start = 0
    var k = 0
    i = line.indexOf(delimiter)
    while (i >= 0) {
      out(k) = line.substring(start, i)
      k += 1
      start = i + 1
      i = line.indexOf(delimiter, start)
    }
    out(k) = line.substring(start)
    out
  }

  private val SpaceCol = Delimiters.indexOf(' ')
  // ASCII char → 1 + its column in Delimiters (0: not a delimiter; the
  // space delimiter counts runs instead)
  private val DelimCol: Array[Int] = {
    val t = new Array[Int](128)
    Delimiters.indices.foreach(k => if (k != SpaceCol) t(Delimiters(k)) = k + 1)
    t
  }

  /** Columns `line` splits into under each of `Delimiters` (same order), in
    * one char scan: for the space delimiter the maximal runs of regex-`\s`
    * non-whitespace that hold a char above ' ' (≡
    * `line.split("\\s+").count(_.trim.nonEmpty)`, the runs `parse` keeps),
    * for the others the delimiter count plus 1.
    */
  private[graft] def columnCounts(line: String): Array[Int] = {
    val out = Array.fill(Delimiters.length)(1)
    out(SpaceCol) = 0
    var visible = false // the current non-\s run holds a char above ' '
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (isWsSplitChar(c)) {
        if (visible) out(SpaceCol) += 1
        visible = false
      } else if (c > ' ') visible = true
      if (c < 128 && DelimCol(c) > 0) out(DelimCol(c) - 1) += 1
      i += 1
    }
    if (visible) out(SpaceCol) += 1
    out
  }

  /** reference: text_reader.py:242-301 (_score_delimiter_enhanced), over
    * the column counts of the non-blank sample lines under one delimiter.
    */
  private def scoreDelimiterEnhanced(lineCounts: Seq[Int]): Double = {
    val columnCounts = lineCounts.filter(_ > 1)
    val validLines = columnCounts.size
    if (columnCounts.isEmpty || validLines < 2) return 0.0
    val unique = columnCounts.distinct
    if (unique.size == 1) {
      unique.head * validLines * 0.1
    } else if (unique.size <= 5) {
      val avg = columnCounts.sum.toDouble / columnCounts.size
      if (avg >= 5) {
        var base = avg * validLines * 0.08
        val highColumnLines = columnCounts.count(_ >= 10)
        if (highColumnLines >= validLines * 0.5) base *= 1.2
        base
      } else {
        val mostCommon = columnCounts.groupBy(identity).maxBy(kv => (kv._2.size, -kv._1))._1
        // Python max(set(...), key=count) ties resolve by set order; use the
        // most frequent count with the smallest value as a stable stand-in
        val consistencyRatio = columnCounts.count(_ == mostCommon).toDouble / columnCounts.size
        val bonus = if (consistencyRatio >= 0.6) 1.0 else consistencyRatio
        (avg * validLines * 0.1) * bonus
      }
    } else {
      if (validLines >= 2 && columnCounts.sum.toDouble / columnCounts.size >= 10) 1.0 else 0.0
    }
  }

  /** Best delimiter + score over the first 15 lines (long lines truncated at
    * 2000 chars, reference: text_reader.py:161-216).
    */
  def detectFormat(text: String): Option[(Char, Double)] = {
    val sampleLines = text.linesIterator.take(15)
      .map(l => (if (l.length > 2000) l.substring(0, 2000) else l).trim)
      .toVector
    if (sampleLines.isEmpty) return None
    // the lines are trimmed, so non-blank is non-empty
    val counts = sampleLines.filter(_.nonEmpty).map(columnCounts)
    // stable best: first delimiter in canonical order wins ties (tab first,
    // matching the reference's dict-order max)
    var best: Char = '\t'
    var bestScore = -1.0
    Delimiters.indices.foreach { k =>
      val s = scoreDelimiterEnhanced(counts.map(_(k)))
      if (s > bestScore) { best = Delimiters(k); bestScore = s }
    }
    if (bestScore >= 1.5) Some((best, bestScore)) else None
  }

  /** 1M-row safety cap (reference: csv_reader.py:252-255). */
  val MaxRows = 1000000

  /** The extent of `parse(text, delimiter)`'s grid, packed as
    * `rows << 32 | cols`, in one allocation-free scan that splits lines
    * the way `parse` does: the rows it emits (at most MaxRows + 1) and the
    * most fields on any of them. For the delimiter chars a field count is
    * the delimiter count plus 1, exact on unquoted lines and an upper bound
    * on quoted ones; for the space delimiter it counts the runs `parse`
    * keeps, as [[columnCounts]] does.
    */
  private def extent(text: String, delimiter: Char): Long = {
    var rows = 0
    var cols = 0
    val n = text.length
    var lineStart = 0
    while (lineStart < n && rows <= MaxRows) {
      var fields = if (delimiter == ' ') 0 else 1
      var visible = false // space delimiter: the current run holds a char above ' '
      var le = lineStart
      while (le < n && text.charAt(le) != '\n' && text.charAt(le) != '\r') {
        val c = text.charAt(le)
        if (delimiter != ' ') { if (c == delimiter) fields += 1 }
        else if (isWsSplitChar(c)) { if (visible) fields += 1; visible = false }
        else if (c > ' ') visible = true
        le += 1
      }
      if (visible) fields += 1
      if (le == lineStart) rows += 1 // empty line: the row counter only
      else if (fields > 0) { // a space line of zero kept runs emits no row
        rows += 1
        if (fields > cols) cols = fields
      }
      lineStart =
        if (le < n && text.charAt(le) == '\r' && le + 1 < n && text.charAt(le + 1) == '\n') le + 2
        else le + 1
    }
    (rows.toLong << 32) | cols
  }

  /** Parse delimited text to a grid.
    *
    * The grid kind steers the downstream cascade the way the reference's
    * FileType does: tab → TSV (typed cells, structured-text detection),
    * comma/pipe/semicolon → CSV (typed cells, island detection), space →
    * TXT (string cells, structured-text detection).
    */
  // java-regex \s (what the reference's split on whitespace runs uses):
  // ASCII whitespace only — NOT Character.isWhitespace
  @inline private def isWsSplitChar(c: Char): Boolean =
    c <= ' ' && ((WsSplitBits >>> c) & 1L) != 0L
  private final val WsSplitBits = (1L << ' ') | (1L << '\t') | (1L << '\n') | (1L << '\u000B') |
    (1L << '\f') | (1L << '\r')

  def parse(text: String, delimiter: Char): (CellGrid, GridKind) = {
    // SPAN-BACKED PARSE (round 5): cells reference [from, until) spans of
    // `text` itself instead of per-cell substrings — identity-rendered
    // cells (plain strings, canonical numbers, dates: the overwhelming
    // majority) allocate NO string at parse time; materialization is lazy
    // and the serializer appends straight from the span. Verdicts are
    // inferInto's exactly (inferSpan equivalence is property-pinned). The
    // quoted-CSV dialect (doubled-quote escapes change the field text)
    // falls back to the materializing path per line — quotes are rare in
    // crawl-embedded CSV and that path's semantics stay byte-identical.
    // declared bounds: every line's fields fit (ragged lines included),
    // less the trailing rows beyond MaxGridArea
    val ext = extent(text, delimiter)
    val cols = ext.toInt
    val rows = CellGrid.rowsWithin((ext >>> 32).toInt, cols)
    val g = new CellGrid(rows, cols)
    val res = new graft.core.grid.TypeInfer.Res // reused across cells (tuple-free)
    // one backing wrapper per document (a bare String cannot back spans —
    // see StrView); every span cell of this grid shares it
    val view = new graft.core.grid.StrView(text)
    var r = 0
    val n = text.length
    // reusable field-span buffer (starts/ends per line)
    var fFrom = new Array[Int](16)
    var fUntil = new Array[Int](16)
    @inline def grow(k: Int): Unit =
      if (k == fFrom.length) {
        fFrom = java.util.Arrays.copyOf(fFrom, k * 2)
        fUntil = java.util.Arrays.copyOf(fUntil, k * 2)
      }
    var lineStart = 0
    while (lineStart < n && r < rows) {
      // linesIterator semantics: terminators \n, \r\n, \r; no trailing
      // empty line after a final terminator
      var le = lineStart
      while (le < n && text.charAt(le) != '\n' && text.charAt(le) != '\r') le += 1

      if (le == lineStart) { // empty line: advance the row counter only
        r += 1
      } else if (delimiter == ' ') {
        // ≡ line.split("\\s+").filter(_.trim.nonEmpty): maximal non-\s runs,
        // kept only when String.trim leaves something; the cell value is
        // the trimmed run (Cell.str(v.trim)), raw == value
        var k = 0
        var i = lineStart
        while (i < le) {
          while (i < le && isWsSplitChar(text.charAt(i))) i += 1
          if (i < le) {
            val a = i
            while (i < le && !isWsSplitChar(text.charAt(i))) i += 1
            // String.trim semantics on the run (strips chars <= ' ')
            var ta = a
            var tb = i
            while (ta < tb && text.charAt(ta) <= ' ') ta += 1
            while (tb > ta && text.charAt(tb - 1) <= ' ') tb -= 1
            if (tb > ta) {
              grow(k)
              fFrom(k) = ta
              fUntil(k) = tb
              k += 1
            }
          }
        }
        if (k > 0) {
          var c = 0
          while (c < k) {
            g.putSpanned(view, fFrom(c), fUntil(c), fFrom(c), fUntil(c),
              "string", r, c)
            c += 1
          }
          r += 1
        }
        // zero kept runs: no cells, and (matching the old parts.isEmpty
        // behavior) the row counter does NOT advance
      } else {
        // delimiter-char path: field spans between delimiter positions;
        // a quote anywhere on the line falls back to the quoted dialect
        var k = 0
        var hasQuote = false
        var start = lineStart
        var i = lineStart
        while (!hasQuote && i <= le) {
          if (i == le || text.charAt(i) == delimiter) {
            grow(k)
            fFrom(k) = start
            fUntil(k) = i
            k += 1
            start = i + 1
          } else if (text.charAt(i) == '"') hasQuote = true
          i += 1
        }
        if (hasQuote) {
          val parts = splitQuoted(text.substring(lineStart, le), delimiter)
          var c = 0
          while (c < parts.length) {
            val v = parts(c)
            if (v != null && v.trim.nonEmpty) g.put(Cell.inferred(v, r, c, res))
            c += 1
          }
        } else {
          var c = 0
          while (c < k) {
            graft.core.grid.TypeInfer.inferSpan(text, fFrom(c), fUntil(c), res)
            if (res.dt != "empty") { // ≡ the old v.trim.nonEmpty guard
              if (res.identity)
                g.putSpanned(view, fFrom(c), fUntil(c), res.vFrom, res.vUntil,
                  res.dt, r, c)
              else
                g.putConverted(res.py, view, fFrom(c), fUntil(c), res.dt, r, c)
            }
            c += 1
          }
        }
        r += 1 // both delimiter-path variants always have >= 1 field
      }

      if (le < n) {
        lineStart =
          if (text.charAt(le) == '\r' && le + 1 < n && text.charAt(le + 1) == '\n') le + 2
          else le + 1
      } else lineStart = n
    }
    val kind = delimiter match {
      case '\t' | ' ' => GridKind.DelimitedText
      case _ => GridKind.Csv
    }
    (g, kind)
  }

  /** CSV-style split honoring double quotes (minimal dialect: quotes wrap a
    * field, doubled quote escapes).
    */
  def splitQuoted(line: String, delimiter: Char): Array[String] = {
    if (line.indexOf('"') < 0) return splitChar(line, delimiter)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQuotes = false
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQuotes = false
        } else sb.append(c)
      } else {
        if (c == '"') inQuotes = true
        else if (c == delimiter) { out += sb.toString; sb.clear() }
        else sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }
}
