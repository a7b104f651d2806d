package graft.core.pdf

import java.util.zip.Inflater

/** Minimal, from-scratch PDF text extraction (the north star's "PDF/layout
  * parse" leg of main-content extraction), built against the PUBLIC PDF
  * spec (ISO 32000 §7 COS syntax, §9 text objects) with stdlib only —
  * java.util.zip.Inflater is the FlateDecode implementation.
  *
  * Design: crawl payloads are hostile, so the parser is SCAN-BASED and
  * TOTAL — it never consults the xref table (routinely wrong in the wild),
  * never throws, and caps every dimension (streams scanned, inflated bytes
  * per stream, total output). It walks the byte array for `stream` ...
  * `endstream` segments, takes each segment's immediately-preceding `<< >>`
  * dictionary (balanced-scan backwards), honors `/Length` when plausible,
  * inflates `/FlateDecode` bodies, and runs a content-stream scanner over
  * the result: text-showing operators (`Tj`, `'`, `"`, `TJ`) inside
  * `BT`/`ET` blocks, with literal strings (octal + mnemonic escapes,
  * nested parens, line continuations) and hex strings decoded per spec.
  *
  * DECLARED SUBSET (documented, not silent): bytes map to text as Latin-1
  * — simple 8-bit fonts extract exactly; composite/Type0 fonts with CMaps
  * are skipped rather than mis-decoded. Filters: FlateDecode,
  * ASCIIHexDecode, ASCII85Decode, LZWDecode (EarlyChange=1 default), and
  * ordered arrays thereof (§7.4.1); image filters (DCT, CCITT, JBIG2)
  * skip the stream. Line
  * geometry is approximated the way every text-dump tool does at this
  * tier: `Td`/`TD`/`T*`/`Tm` and the `'`/`"` operators start a new line,
  * `TJ` kerning adjustments do not insert spaces.
  */
object PdfText {

  /** %PDF- magic at offset 0 accepts immediately; a later match within the
    * first 1024 bytes (the spec permits junk before the header and readers
    * scan for it) additionally requires PDF structure — an `endobj`, or a
    * `stream` keyword that follows a dictionary's `>>` and ends its line —
    * within the first or last 64 KiB (`StructureWindow`). An HTML/text page
    * merely MENTIONING "%PDF-" early (or saying "live streaming") must not
    * be misrouted to the PDF parser and have its real content dropped, and
    * the check costs O(window), not O(payload), on a multi-MB page.
    */
  def isPdf(bytes: Array[Byte]): Boolean = {
    if (bytes == null) return false
    if (bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-') return true
    val n = math.min(bytes.length - 4, 1024)
    var i = 1
    var found = false
    while (!found && i < n) {
      if (bytes(i) == '%' && bytes(i + 1) == 'P' && bytes(i + 2) == 'D' &&
        bytes(i + 3) == 'F' && bytes(i + 4) == '-') found = true
      i += 1
    }
    if (!found) return false
    // corroborate: real junk-prefixed PDFs carry object structure near
    // both ends (the first objects follow the header, the trailer ends it)
    val w = StructureWindow
    hasStructure(java.util.Arrays.copyOfRange(bytes, 0, math.min(bytes.length, w))) ||
      (bytes.length > w && hasStructure(
        java.util.Arrays.copyOfRange(bytes, math.max(w, bytes.length - w), bytes.length)))
  }

  /** Bytes searched for structure at each end of a late-magic payload. */
  private val StructureWindow = 64 << 10

  private def hasStructure(b: Array[Byte]): Boolean = {
    if (indexOf(b, "endobj", 0) >= 0) return true
    var k = indexOf(b, "stream", 0)
    while (k >= 0) {
      var j = k - 1
      while (j >= 0 && isWhite(b(j))) j -= 1
      val afterDict = j >= 1 && b(j) == '>' && b(j - 1) == '>'
      val endsLine = k + 6 < b.length && (b(k + 6) == '\r' || b(k + 6) == '\n')
      if (afterDict && endsLine) return true
      k = indexOf(b, "stream", k + 6)
    }
    false
  }

  @inline private def isWhite(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\r' || b == '\n' || b == '\f' || b == 0

  private val MaxStreams = 4096
  private val MaxInflatedPerStream = 16 << 20
  private val MaxTotalOut = 4 << 20

  /** All extracted text, blocks joined by newlines; "" for anything that
    * yields no text (including non-PDF bytes). Total: malformed streams,
    * bogus lengths, truncated bodies, and broken deflate data are skipped,
    * never thrown.
    */
  def extractText(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 8) return ""
    val out = new java.lang.StringBuilder(256)
    var from = 0
    var streams = 0
    while (from < bytes.length && streams < MaxStreams && out.length < MaxTotalOut) {
      val kw = indexOf(bytes, "stream", from)
      if (kw < 0) from = bytes.length
      else {
        // `endstream` contains `stream`: only take the keyword when it is
        // not the tail of an identifier
        val standalone = kw == 0 || !isRegular(bytes(kw - 1))
        var dataStart = kw + 6
        if (dataStart < bytes.length && bytes(dataStart) == '\r') dataStart += 1
        if (dataStart < bytes.length && bytes(dataStart) == '\n') dataStart += 1
        if (!standalone) from = kw + 6
        else {
          streams += 1
          val dict = dictBefore(bytes, kw)
          val endKw = indexOf(bytes, "endstream", dataStart)
          var dataEnd = if (endKw < 0) bytes.length else endKw
          // trim the EOL the spec places before `endstream`
          if (dataEnd > dataStart && bytes(dataEnd - 1) == '\n') dataEnd -= 1
          if (dataEnd > dataStart && bytes(dataEnd - 1) == '\r') dataEnd -= 1
          // /Length wins when plausible (some writers omit the EOL)
          declaredLength(dict) match {
            case Some(n) if n >= 0 && dataStart + n <= (if (endKw < 0) bytes.length else endKw) =>
              dataEnd = dataStart + n
            case _ => ()
          }
          if (dataEnd > dataStart) {
            val body = applyFilters(
              java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd),
              filtersOf(dict))
            if (body != null) scanContent(body, out)
          }
          from = if (endKw < 0) bytes.length else endKw + 9
        }
      }
    }
    if (out.length > MaxTotalOut) out.setLength(MaxTotalOut)
    out.toString
  }

  @inline private def isRegular(b: Byte): Boolean = {
    val c = b.toInt & 0xff
    !(c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0 ||
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%')
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.length
    var i = math.max(from, 0)
    val last = hay.length - n
    while (i <= last) {
      var j = 0
      while (j < n && hay(i + j) == needle.charAt(j)) j += 1
      if (j == n) return i
      i += 1
    }
    -1
  }

  /** The `<< ... >>` dictionary immediately preceding the `stream` keyword,
    * found by balancing `>>`/`<<` backwards; "" when absent/unbalanced.
    * Returned as a Latin-1 string — it is consulted only for `/Length`,
    * `/Filter`, `/FlateDecode` tokens.
    */
  private def dictBefore(bytes: Array[Byte], streamKw: Int): String = {
    var i = streamKw - 1
    while (i >= 0 && (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\r' ||
      bytes(i) == '\n')) i -= 1
    if (i < 1 || bytes(i) != '>' || bytes(i - 1) != '>') return ""
    var depth = 0
    var j = i
    while (j >= 1) {
      if (bytes(j) == '>' && bytes(j - 1) == '>') { depth += 1; j -= 2 }
      else if (bytes(j) == '<' && bytes(j - 1) == '<') {
        depth -= 1
        if (depth == 0) return latin1(bytes, j - 1, i + 1)
        j -= 2
      } else j -= 1
    }
    ""
  }

  private def latin1(bytes: Array[Byte], from: Int, until: Int): String = {
    val sb = new java.lang.StringBuilder(until - from)
    var i = from
    while (i < until) { sb.append((bytes(i) & 0xff).toChar); i += 1 }
    sb.toString
  }

  /** Direct integer /Length only (an indirect `N 0 R` length falls back to
    * the endstream scan — resolving references needs the xref this parser
    * deliberately avoids).
    */
  private def declaredLength(dict: String): Option[Int] = {
    val k = dict.indexOf("/Length")
    if (k < 0) return None
    var i = k + 7
    while (i < dict.length && (dict.charAt(i) == ' ' || dict.charAt(i) == '\t')) i += 1
    var n = 0L
    var any = false
    while (i < dict.length && dict.charAt(i) >= '0' && dict.charAt(i) <= '9') {
      n = n * 10 + (dict.charAt(i) - '0'); any = true
      if (n > Int.MaxValue) return None
      i += 1
    }
    // `N 0 R` = indirect reference, not a direct length; any whitespace may
    // separate the tokens ("/Length 12\n0 R" is common — round-7 ADVICE),
    // mirroring the pre-digit whitespace skip above
    while (i < dict.length && (dict.charAt(i) == ' ' || dict.charAt(i) == '\t' ||
      dict.charAt(i) == '\r' || dict.charAt(i) == '\n')) i += 1
    if (any && i < dict.length && dict.charAt(i) >= '0' && dict.charAt(i) <= '9') None
    else if (any) Some(n.toInt) else None
  }

  /** The ordered /Filter names of a stream dict: a single name or an
    * array `[/A /B]` (applied left to right per §7.4.1). DecodeParms are
    * not consulted — predictors are image territory, and a mis-predicted
    * content stream simply yields no BT/ET text.
    */
  private[pdf] def filtersOf(dict: String): Seq[String] = {
    val k = dict.indexOf("/Filter")
    if (k < 0) return Nil
    var i = k + 7
    while (i < dict.length && (dict.charAt(i) == ' ' || dict.charAt(i) == '\t' ||
      dict.charAt(i) == '\r' || dict.charAt(i) == '\n')) i += 1
    def name(from: Int): (String, Int) = {
      var j = from + 1
      while (j < dict.length && (dict.charAt(j).isLetterOrDigit)) j += 1
      (dict.substring(from, j), j)
    }
    if (i < dict.length && dict.charAt(i) == '/') Seq(name(i)._1)
    else if (i < dict.length && dict.charAt(i) == '[') {
      val names = Seq.newBuilder[String]
      var j = i + 1
      while (j < dict.length && dict.charAt(j) != ']') {
        if (dict.charAt(j) == '/') { val (nm, nj) = name(j); names += nm; j = nj }
        else j += 1
      }
      names.result()
    } else Nil
  }

  /** Apply the filter chain in order; null when any stage fails or an
    * unsupported filter appears (DCT/JBIG2/CCITT/LZW — image or legacy
    * territory; skipped rather than mis-decoded).
    */
  private def applyFilters(data: Array[Byte], filters: Seq[String]): Array[Byte] = {
    var cur = data
    filters.foreach { f =>
      if (cur == null) return null
      cur = f match {
        case "/FlateDecode" | "/Fl" => inflate(cur, 0, cur.length)
        case "/ASCIIHexDecode" | "/AHx" => asciiHexDecode(cur)
        case "/ASCII85Decode" | "/A85" => ascii85Decode(cur)
        case "/LZWDecode" | "/LZW" => lzwDecode(cur)
        case _ => null
      }
    }
    cur
  }

  /** §7.4.2 ASCIIHexDecode: hex pairs, whitespace ignored, `>` is EOD, an
    * odd final digit pads with 0.
    */
  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        return out.toByteArray
      }
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** §7.4.3 ASCII85Decode: 5 chars `!`..`u` -> 4 bytes base 85, `z` -> four
    * zero bytes (group start only), whitespace ignored, `~>` is EOD, a
    * final partial group of n chars yields n-1 bytes (pad with `u`).
    * Returns null on out-of-range characters (corrupt data).
    */
  private def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var gn = 0
    def flush(count: Int): Unit = {
      var k = gn
      while (k < 5) { grp(k) = 84; k += 1 } // pad with 'u'
      var v = 0L
      k = 0
      while (k < 5) { v = v * 85 + grp(k); k += 1 }
      var shift = 24
      var w = 0
      while (w < count) { out.write(((v >> shift) & 0xff).toInt); shift -= 8; w += 1 }
    }
    var i = 0
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      if (c == '~') { // EOD
        if (gn == 1) return null // a lone trailing char is illegal
        if (gn > 1) flush(gn - 1)
        return out.toByteArray
      } else if (c == 'z' && gn == 0) out.write(Array[Byte](0, 0, 0, 0), 0, 4)
      else if (c >= '!' && c <= 'u') {
        grp(gn) = c - '!'
        gn += 1
        if (gn == 5) { flush(4); gn = 0 }
      } else if (!(c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0))
        return null
      i += 1
    }
    if (gn == 1) return null
    if (gn > 1) flush(gn - 1)
    out.toByteArray
  }

  /** §7.4.4 LZWDecode (TIFF-style LZW): MSB-first variable-width codes
    * starting at 9 bits, 256 = clear table, 257 = EOD, new entries from
    * 258, width grows at 511/1023/2047 under the spec-default
    * EarlyChange=1 (DecodeParms are not consulted — EarlyChange=0
    * streams are rare and simply fail to a null skip). Null on corrupt
    * code sequences; output capped like the other decoders.
    */
  private[graft] def lzwDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 3)
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bits = 0
    var pos = 0
    while (pos < data.length || bits >= width) {
      if (bits < width) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xff)
        bits += 8
        pos += 1
      } else {
        val code = ((bitBuf >>> (bits - width)) & ((1L << width) - 1)).toInt
        bits -= width
        if (code == 256) { next = 258; width = 9; prev = null }
        else if (code == 257) return out.toByteArray
        else {
          val entry =
            if (code < 256) table(code)
            else if (code >= 258 && code < next) table(code)
            else if (code == next && prev != null) prev :+ prev(0) // KwKwK
            else return null // corrupt
          out.write(entry, 0, entry.length)
          if (out.size > MaxInflatedPerStream) return null
          if (prev != null && next < 4096) {
            table(next) = prev :+ entry(0)
            next += 1
          }
          prev = entry
          // EarlyChange=1: the encoder widens one code early
          if (next + 1 >= (1 << width) && width < 12) width += 1
        }
      }
    }
    out.toByteArray
  }

  private def inflate(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(bytes, off, len)
      val buf = new Array[Byte](math.min(64 << 10, MaxInflatedPerStream))
      val out = new java.io.ByteArrayOutputStream(math.min(len * 4, 64 << 10))
      while (!inf.finished() && !inf.needsInput() && out.size < MaxInflatedPerStream) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return out.toByteArray // dict-needed/stuck
        out.write(buf, 0, n)
      }
      out.toByteArray
    } catch {
      case _: Exception => null
    } finally inf.end()
  }

  // ---- content-stream text scanner ----

  /** Scan one decoded content stream for text ops. Latin-1 chars; only
    * text shown inside BT/ET collects; see the subset contract above.
    * All scanner state is local — safe under concurrent Spark tasks.
    */
  private def scanContent(body: Array[Byte], out: java.lang.StringBuilder): Unit = {
    var i = 0
    val n = body.length
    var inText = false
    val blockStart = out.length
    var lineHasText = false
    // strings accumulate here until their showing operator arrives
    val pending = new java.lang.StringBuilder(64)

    def newline(): Unit =
      if (lineHasText) { out.append('\n'); lineHasText = false }

    def show(): Unit =
      if (pending.length() > 0) {
        out.append(pending)
        pending.setLength(0)
        lineHasText = true
      }

    while (i < n && out.length < MaxTotalOut) {
      val c = (body(i) & 0xff).toChar
      if (c == '%') { // comment to EOL
        while (i < n && body(i) != '\n' && body(i) != '\r') i += 1
      } else if (c == '(') {
        val sb = new java.lang.StringBuilder(16)
        i = literalString(body, i + 1, sb)
        if (inText) pending.append(sb)
      } else if (c == '<' && i + 1 < n && (body(i + 1) & 0xff).toChar != '<') {
        val sb = new java.lang.StringBuilder(16)
        i = hexString(body, i + 1, sb)
        if (inText) pending.append(sb)
      } else if (c == '<') i += 2 // `<<`: dict contents tokenize away below
      else if (c == '\'' || c == '"') {
        // §9.4.3 next-line-show operators: line break, then the string
        if (inText) { newline(); show() }
        i += 1
      } else if (c == '/' || c == '[' || c == ']' || c == '{' || c == '}' ||
        c == '>' || c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' ||
        c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        i += 1
        if (c == '/') while (i < n && isRegular(body(i))) i += 1
      } else { // operator: a run of regular chars
        val opStart = i
        while (i < n && isRegular(body(i))) i += 1
        if (i == opStart) i += 1 // defensive: non-regular, non-handled byte
        else {
          val op = latin1(body, opStart, i)
          op match {
            case "BT" => inText = true; pending.setLength(0)
            case "ET" => inText = false; newline(); pending.setLength(0)
            case "Tj" | "TJ" => if (inText) show()
            case "Td" | "TD" | "T*" | "Tm" =>
              if (inText) { pending.setLength(0); newline() }
            case _ => if (inText) pending.setLength(0)
          }
        }
      }
    }
    // blocks separate by newline
    if (out.length > blockStart && out.length < MaxTotalOut) {
      if (out.charAt(out.length - 1) != '\n') out.append('\n')
    }
  }

  /** Literal string per §7.3.4.2: nested parens balance, escapes
    * \n \r \t \b \f \( \) \\, 1-3 digit octal, and backslash-EOL line
    * continuation. Returns the index after the closing paren.
    */
  private def literalString(body: Array[Byte], start: Int, sb: java.lang.StringBuilder): Int = {
    var i = start
    var depth = 1
    val n = body.length
    while (i < n && depth > 0) {
      val c = (body(i) & 0xff).toChar
      if (c == '\\' && i + 1 < n) {
        val e = (body(i + 1) & 0xff).toChar
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\r' => i += 2; if (i < n && body(i) == '\n') i += 1 // continuation
          case '\n' => i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0
            var k = 0
            i += 1
            while (k < 3 && i < n && body(i) >= '0' && body(i) <= '7') {
              v = v * 8 + (body(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other); i += 2 // spec: backslash dropped
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c); i += 1 }
      else { sb.append(c); i += 1 }
    }
    i
  }

  /** Hex string per §7.3.4.3: whitespace ignored, odd final digit pads 0.
    * Returns the index after the closing `>`.
    */
  private def hexString(body: Array[Byte], start: Int, sb: java.lang.StringBuilder): Int = {
    var i = start
    val n = body.length
    var hi = -1
    while (i < n && body(i) != '>') {
      val c = (body(i) & 0xff).toChar
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    i + 1
  }
}
