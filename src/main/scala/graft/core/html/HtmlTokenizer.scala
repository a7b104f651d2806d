package graft.core.html

/** Minimal streaming HTML tokenizer: start/end tags with attributes, text,
  * comments. Single pass; the primary API (`TokSink`) is allocation-free on
  * the hot path — no per-event objects, and text is delivered as [from,
  * until) spans of the source string so consumers append without copying.
  * Entity decoding for the common named entities plus numeric references.
  */
object HtmlTokenizer {

  /** Allocation-free event sink. Text arrives as a span of `src`; `hasAmp`
    * tells the consumer whether entity decoding is needed (only then must a
    * string materialize). Tag names are interned for the common tags.
    */
  trait TokSink {
    def onStartTag(name: String, attrs: Map[String, String], selfClosing: Boolean): Unit
    def onEndTag(name: String): Unit
    def onText(src: String, from: Int, until: Int, hasAmp: Boolean): Unit
  }

  // legacy object-event API (property tests / tooling)
  sealed trait Tok
  final case class StartTag(name: String, attrs: Map[String, String], selfClosing: Boolean)
      extends Tok
  final case class EndTag(name: String) extends Tok
  final case class Text(content: String) extends Tok

  /** Elements whose content is raw text, skipped to the matching close tag.
    * A literal match compiles to a switch on the cached hashCode plus one
    * equals, so tag names the tokenizer did not intern match too.
    */
  private def isRawText(name: String): Boolean = name match {
    case "script" | "style" | "noscript" | "textarea" => true
    case _ => false
  }

  def tokenize(html: String, out: Tok => Unit): Unit =
    tokenize(html, new TokSink {
      def onStartTag(name: String, attrs: Map[String, String], selfClosing: Boolean): Unit =
        out(StartTag(name, attrs, selfClosing))
      def onEndTag(name: String): Unit = out(EndTag(name))
      def onText(src: String, from: Int, until: Int, hasAmp: Boolean): Unit = {
        val s = src.substring(from, until)
        out(Text(if (hasAmp) decodeEntities(s) else s))
      }
    })

  def tokenize(html: String, sink: TokSink): Unit = {
    val n = html.length
    var i = 0
    // current text run: a contiguous [textStart, i) span of html (text only
    // ever accumulates consecutive source chars between tag boundaries)
    var textStart = -1
    var textAmp = false

    def flushText(until: Int): Unit = {
      if (textStart >= 0 && until > textStart) {
        sink.onText(html, textStart, until, textAmp)
      }
      textStart = -1
      textAmp = false
    }

    while (i < n) {
      val ch = html.charAt(i)
      if (ch == '<' && i + 1 < n) {
        val next = html.charAt(i + 1)
        if (next == '!') {
          flushText(i)
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (next == '?') {
          flushText(i)
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (next == '/' ) {
          flushText(i)
          val end = html.indexOf('>', i)
          if (end < 0) { i = n }
          else {
            // well-formed "</name>" (optionally with trailing ws): intern
            // without allocating; anything odd falls back to trim+lower
            var ns = i + 2
            var ne = ns
            while (ne < end && (html.charAt(ne).isLetterOrDigit || html.charAt(ne) == '-')) ne += 1
            var rest = ne
            while (rest < end && html.charAt(rest).isWhitespace) rest += 1
            val name =
              if (ne > ns && rest == end) internTagName(html, ns, ne)
              else html.substring(i + 2, end).trim.toLowerCase
            sink.onEndTag(name)
            i = end + 1
          }
        } else if (next.isLetter) {
          flushText(i)
          var j = i + 1
          while (j < n && (html.charAt(j).isLetterOrDigit || html.charAt(j) == '-')) j += 1
          val name = internTagName(html, i + 1, j)
          val packed = parseAttrs(html, j, name, sink)
          val selfClosing = (packed & 1L) == 1L
          i = (packed >>> 1).toInt
          // raw-text elements: skip to the matching close tag verbatim
          if (!selfClosing && isRawText(name)) {
            val close = "</" + name
            val idx = indexOfIgnoreCase(html, close, i)
            if (idx < 0) i = n
            else {
              val end = html.indexOf('>', idx)
              sink.onEndTag(name)
              i = if (end < 0) n else end + 1
            }
          }
        } else {
          if (textStart < 0) textStart = i
          i += 1
        }
      } else {
        if (textStart < 0) textStart = i
        if (ch == '&') textAmp = true
        i += 1
      }
    }
    flushText(n)
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val nl = needle.length
    var i = from
    val max = hay.length - nl
    while (i <= max) {
      if (hay.regionMatches(true, i, needle, 0, nl)) return i
      i += 1
    }
    -1
  }

  /** Parse the attribute list of a start tag whose name was already scanned
    * (`from` = index after the name), emit onStartTag, and return
    * `(indexAfterGt << 1) | selfClosing` — no tuple, no boxing. Attributes
    * build an immutable map directly (Map1..Map4 for the typical 1-4 attr
    * tags; no mutable map + toMap copy).
    */
  private def parseAttrs(html: String, from: Int, name: String, sink: TokSink): Long = {
    val n = html.length
    var i = from
    // fast path: attribute-less tag (the overwhelmingly common <td>/<tr>)
    var attrs: Map[String, String] = EmptyAttrs
    var selfClosing = false
    var done = false
    while (i < n && !done) {
      val c = html.charAt(i)
      if (c == '>') { done = true; i += 1 }
      else if (c == '/' && i + 1 < n && html.charAt(i + 1) == '>') {
        selfClosing = true; done = true; i += 2
      } else if (c.isWhitespace) i += 1
      else if (c == '/') i += 1 // stray slash not followed by '>': skip (malformed markup)
      else {
        // attribute
        val aStart = i
        while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '=' &&
          html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
        val aName = html.substring(aStart, i).toLowerCase
        while (i < n && html.charAt(i).isWhitespace) i += 1
        var aVal = ""
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            i += 1
            val vStart = i
            while (i < n && html.charAt(i) != q) i += 1
            aVal = html.substring(vStart, i)
            if (i < n) i += 1
          } else {
            val vStart = i
            while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') i += 1
            aVal = html.substring(vStart, i)
          }
        }
        if (aName.nonEmpty) attrs = attrs.updated(aName, decodeEntities(aVal))
      }
    }
    sink.onStartTag(name, attrs, selfClosing)
    (i.toLong << 1) | (if (selfClosing) 1L else 0L)
  }

  private val EmptyAttrs: Map[String, String] = Map.empty

  private val CommonTags: Array[String] = Array("td", "tr", "th", "table", "p", "div",
    "a", "b", "i", "li", "ul", "ol", "span", "pre", "nav", "h1", "h2", "h3", "h4",
    "h5", "h6", "br", "em", "strong", "header", "footer", "main", "body", "html",
    "head", "title", "section", "article", "aside", "form", "img", "script",
    "style", "meta", "link")

  /** Return the canonical lowercase tag-name string without allocating for
    * the common tags (a page has hundreds of td/tr tags).
    */
  private def internTagName(html: String, from: Int, until: Int): String = {
    val len = until - from
    var t = 0
    while (t < CommonTags.length) {
      val cand = CommonTags(t)
      if (cand.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) {
          val c = html.charAt(from + i)
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
          if (lc != cand.charAt(i)) ok = false
          i += 1
        }
        if (ok) return cand
      }
      t += 1
    }
    html.substring(from, until).toLowerCase
  }

  private val Named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "mdash" -> "—",
    "ndash" -> "–", "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘",
    "rdquo" -> "”", "ldquo" -> "“", "times" -> "×", "middot" -> "·"
  )

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(body.substring(2), 16)))
              i = semi + 1
            } catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(body.substring(1))))
              i = semi + 1
            } catch { case _: Exception => sb.append(c); i += 1 }
          } else Named.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Decode a span of `src` (used by sinks when hasAmp is set). */
  def decodeEntities(src: String, from: Int, until: Int): String =
    decodeEntities(src.substring(from, until))
}
