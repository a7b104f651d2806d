package graft.core.html

/** Minimal streaming HTML tokenizer: start/end tags, text, comments, in one
  * pass with no per-event objects.
  *
  * Sink contract (`TokSink`):
  *  - Each tag name is resolved once, in the pass that scans it, to a tag
  *    code (`Tag`). ASCII letters fold to lowercase during the scan; a name
  *    holding a non-ASCII char is lowercased with `String.toLowerCase`
  *    first, so e.g. a KELVIN SIGN spelling of `blockquote` still resolves.
  *    Every name outside `Tag.Names` gets `Tag.Other`; the sink gets its
  *    name as a source span and never a lowercased string.
  *  - A start tag hands over its attribute list as the source span
  *    [attrFrom, attrUntil): from the end of the name to the tag's closing
  *    `>` (the `/` of a closing `/>`, or the end of input when the tag is
  *    unterminated). `attributes` turns such a span into the
  *    lowercased-name → entity-decoded-value map (the last of duplicate
  *    names wins). It runs only for sinks that call it: `PageParser` does so
  *    for `table`, `td` and `th`.
  *  - The tag end and `selfClosing` come from one scan of the attribute
  *    list, so a `>` or `/` inside a quoted value never ends the tag.
  *  - Text arrives as [from, until) spans of the source; `hasAmp` says
  *    whether the span holds a `&`, i.e. whether entity decoding can change
  *    it (only then must a string materialize).
  *  - The content of the raw-text elements (`Tag.RawText`) is skipped
  *    verbatim to the first case-insensitive `</name`, which emits the end
  *    tag.
  * Entity decoding covers the common named entities plus numeric references.
  */
object HtmlTokenizer {

  /** Allocation-free event sink; see the contract above. A tag's name is
    * the span [nameFrom, attrFrom) of `src` for a start tag and
    * [nameFrom, nameUntil) for an end tag.
    */
  trait TokSink {
    def onStartTag(tag: Int, src: String, nameFrom: Int, attrFrom: Int, attrUntil: Int,
        selfClosing: Boolean): Unit
    def onEndTag(tag: Int, src: String, nameFrom: Int, nameUntil: Int): Unit
    def onText(src: String, from: Int, until: Int, hasAmp: Boolean): Unit
  }

  /** Tag codes: one per tag name the page parser tells apart, `Other` for
    * every other name, plus one class-flag table indexed by code.
    */
  object Tag {
    final val Other = 0
    final val Td = 1
    final val Tr = 2
    final val Th = 3
    final val Table = 4
    final val Caption = 5
    final val B = 6
    final val Strong = 7
    final val A = 8
    final val Pre = 9
    final val Br = 10
    final val P = 11
    final val Div = 12
    final val Section = 13
    final val Article = 14
    final val Main = 15
    final val H1 = 16
    final val H2 = 17
    final val H3 = 18
    final val H4 = 19
    final val H5 = 20
    final val H6 = 21
    final val Li = 22
    final val Ul = 23
    final val Ol = 24
    final val Blockquote = 25
    final val Body = 26
    final val Html = 27
    final val Head = 28
    final val Nav = 29
    final val Header = 30
    final val Footer = 31
    final val Aside = 32
    final val Form = 33
    final val Iframe = 34
    final val Svg = 35
    final val Select = 36
    final val Button = 37
    final val Script = 38
    final val Style = 39
    final val Noscript = 40
    final val Textarea = 41

    /** Lowercase name per code (index = code; `Other` has none). */
    val Names: Array[String] = Array(null, "td", "tr", "th", "table", "caption", "b",
      "strong", "a", "pre", "br", "p", "div", "section", "article", "main", "h1", "h2",
      "h3", "h4", "h5", "h6", "li", "ul", "ol", "blockquote", "body", "html", "head", "nav",
      "header", "footer", "aside", "form", "iframe", "svg", "select", "button", "script",
      "style", "noscript", "textarea")

    /** Subtree the page parser drops (boilerplate containers). */
    final val Dropped = 1
    /** Ends the page parser's current text block. */
    final val Block = 2
    /** Content skipped verbatim by the tokenizer. */
    final val RawText = 4
    /** Acted on by the page parser's table builder inside a table. */
    final val TableStructure = 8

    /** Class flags per code. */
    val Flags: Array[Int] = {
      val f = new Array[Int](Names.length)
      def mark(flag: Int, codes: Int*): Unit = codes.foreach(c => f(c) |= flag)
      mark(Dropped, Head, Nav, Header, Footer, Aside, Form, Iframe, Svg, Select, Button)
      mark(Block, P, Div, Section, Article, Main, H1, H2, H3, H4, H5, H6, Li, Ul, Ol,
        Blockquote, Br, Tr, Table, Pre, Body, Html)
      mark(RawText, Script, Style, Noscript, Textarea)
      mark(TableStructure, Table, Tr, Td, Th, Caption, B, Strong)
      f
    }

    /** Name char → 6-bit symbol (letters fold: 1-26, digits 27-36, '-' 37;
      * 0: not a name char), for the ASCII range.
      */
    private[HtmlTokenizer] val Sym: Array[Int] = {
      val t = new Array[Int](128)
      for (c <- 'a' to 'z') { t(c) = c - 'a' + 1; t(c - 32) = c - 'a' + 1 }
      for (c <- '0' to '9') t(c) = c - '0' + 27
      t('-') = 37
      t
    }

    /** Longest known name ("blockquote"); its 6-bit symbols fill 60 bits. */
    private[HtmlTokenizer] final val MaxKeyChars = 10

    /** A name's symbols packed 6 bits each: distinct names (up to
      * `MaxKeyChars` chars) get distinct keys, all > 0.
      */
    private def keyOf(name: String): Long = {
      var k = 0L
      var i = 0
      while (i < name.length) {
        val c = name.charAt(i)
        if (c >= 128 || Sym(c) == 0 || i >= MaxKeyChars) return -1L
        k = (k << 6) | Sym(c)
        i += 1
      }
      k
    }

    // open-addressed key table: slot = code (0 = empty)
    private val SlotMask = 127
    private val SlotKey = new Array[Long](SlotMask + 1)
    private val SlotCode: Array[Int] = {
      val t = new Array[Int](SlotMask + 1)
      var c = 1
      while (c < Names.length) {
        val k = keyOf(Names(c))
        var s = slot(k)
        while (t(s) != 0) s = (s + 1) & SlotMask
        t(s) = c
        SlotKey(s) = k
        c += 1
      }
      t
    }

    @inline private def slot(key: Long): Int = ((key * 0x9E3779B97F4A7C15L) >>> 57).toInt

    /** Code of the name with packed key `key` (<= 0: no known name). */
    private[HtmlTokenizer] def lookup(key: Long): Int = {
      if (key <= 0L) return Other
      var s = slot(key)
      var c = SlotCode(s)
      while (c != 0 && SlotKey(s) != key) {
        s = (s + 1) & SlotMask
        c = SlotCode(s)
      }
      c
    }

    /** Code of an already lowercased name. */
    private[HtmlTokenizer] def lookup(lower: String): Int = lookup(keyOf(lower))
  }

  private val CloseTags: Array[String] = Tag.Names.map(n => if (n == null) null else "</" + n)

  def tokenize(html: String, sink: TokSink): Unit = {
    val n = html.length
    var i = 0
    // current text run: a contiguous [textStart, i) span of html (text only
    // ever accumulates consecutive source chars between tag boundaries)
    var textStart = -1
    var textAmp = false
    // index of the first '&' at or after the scan position (n: none left)
    var nextAmp = -1

    while (i < n) {
      val ch = html.charAt(i)
      val next = if (ch == '<' && i + 1 < n) html.charAt(i + 1) else ' '
      if (next == '!' || next == '?' || next == '/' || Character.isLetter(next)) {
        if (textStart >= 0) {
          sink.onText(html, textStart, i, textAmp)
          textStart = -1
          textAmp = false
        }
        if (next == '!') {
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (next == '?') {
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (next == '/') {
          // a well-formed `</name>` ends right after its name; anything
          // else is resolved by endTag from the first '>'
          val packed = scanName(html, i + 2, n)
          val nameEnd = (packed >>> 8).toInt
          if (nameEnd > i + 2 && nameEnd < n && html.charAt(nameEnd) == '>') {
            sink.onEndTag((packed & 0xff).toInt, html, i + 2, nameEnd)
            i = nameEnd + 1
          } else {
            val end = html.indexOf('>', i)
            if (end < 0) i = n
            else {
              endTag(html, i + 2, end, sink)
              i = end + 1
            }
          }
        } else {
          val packed = scanName(html, i + 1, n)
          val nameEnd = (packed >>> 8).toInt
          val tag = (packed & 0xff).toInt
          val scan = scanAttrs(html, nameEnd, n, null)
          val attrUntil = (scan >>> 1).toInt
          val selfClosing = (scan & 1L) == 1L
          sink.onStartTag(tag, html, i + 1, nameEnd, attrUntil, selfClosing)
          i = if (selfClosing) attrUntil + 2 else if (attrUntil < n) attrUntil + 1 else n
          if (!selfClosing && (Tag.Flags(tag) & Tag.RawText) != 0) {
            val idx = indexOfIgnoreCase(html, CloseTags(tag), i)
            if (idx < 0) i = n
            else {
              val end = html.indexOf('>', idx)
              sink.onEndTag(tag, html, idx + 2, idx + CloseTags(tag).length)
              i = if (end < 0) n else end + 1
            }
          }
        }
      } else {
        // text (a '<' that opens no markup included) up to the next '<'
        if (textStart < 0) textStart = i
        val lt = html.indexOf('<', i + 1)
        val stop = if (lt < 0) n else lt
        if (!textAmp) {
          if (nextAmp < i) {
            nextAmp = html.indexOf('&', i)
            if (nextAmp < 0) nextAmp = n
          }
          textAmp = nextAmp < stop
        }
        i = stop
      }
    }
    if (textStart >= 0) sink.onText(html, textStart, n, textAmp)
  }

  /** End tag whose content is html[from, end), `end` at its `>`. A
    * well-formed `</name>` (optionally with trailing whitespace) resolves
    * from the name scan; anything else names the trimmed, lowercased
    * content (so `</td x>` is `Other`).
    */
  private def endTag(html: String, from: Int, end: Int, sink: TokSink): Unit = {
    val packed = scanName(html, from, end)
    val nameEnd = (packed >>> 8).toInt
    var rest = nameEnd
    while (rest < end && Character.isWhitespace(html.charAt(rest))) rest += 1
    if (nameEnd > from && rest == end) sink.onEndTag((packed & 0xff).toInt, html, from, nameEnd)
    else {
      var a = from
      var b = end
      while (a < b && html.charAt(a) <= ' ') a += 1
      while (b > a && html.charAt(b - 1) <= ' ') b -= 1
      sink.onEndTag(Tag.lookup(html.substring(a, b).toLowerCase), html, a, b)
    }
  }

  /** Scan a tag name (letters, digits, '-') from `from`, bounded by
    * `limit`; returns `(nameEnd << 8) | tag`.
    */
  private def scanName(html: String, from: Int, limit: Int): Long = {
    var j = from
    var key = 0L
    var ascii = true
    var more = true
    while (more && j < limit) {
      val c = html.charAt(j)
      if (c < 128) {
        val sym = Tag.Sym(c)
        if (sym != 0) {
          key = (key << 6) | sym
          j += 1
        } else more = false
      } else if (Character.isLetterOrDigit(c)) {
        ascii = false
        j += 1
      } else more = false
    }
    val tag =
      if (!ascii) Tag.lookup(html.substring(from, j).toLowerCase)
      else if (j - from > Tag.MaxKeyChars) Tag.Other
      else Tag.lookup(key)
    (j.toLong << 8) | tag
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    // the needle starts with '<', which no other char matches ignoring case
    val nl = needle.length
    val max = hay.length - nl
    var i = hay.indexOf('<', from)
    while (i >= 0 && i <= max) {
      if (hay.regionMatches(true, i, needle, 0, nl)) return i
      i = hay.indexOf('<', i + 1)
    }
    -1
  }

  private final class AttrAcc {
    var map: Map[String, String] = EmptyAttrs
  }

  /** One scan of a start tag's attribute list from `from`, bounded by
    * `limit`. Returns `(t << 1) | selfClosing`, where t is the index of the
    * tag's closing `>` (or of the `/` of `/>`), or `limit` when the tag is
    * unterminated. A non-null `acc` collects the attributes: a rescan of
    * [from, t) yields the same ones, since every step that reached t ended
    * at or before it.
    */
  private def scanAttrs(html: String, from: Int, limit: Int, acc: AttrAcc): Long = {
    val n = limit
    var i = from
    while (i < n) {
      val c = html.charAt(i)
      if (c == '>') return i.toLong << 1
      else if (c == '/' && i + 1 < n && html.charAt(i + 1) == '>') return (i.toLong << 1) | 1L
      else if (c == '/' || Character.isWhitespace(c)) i += 1 // a stray slash is skipped
      else {
        val aStart = i
        while (i < n && !Character.isWhitespace(html.charAt(i)) && html.charAt(i) != '=' &&
          html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
        val aEnd = i
        while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
        var vFrom = i
        var vUntil = i
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && Character.isWhitespace(html.charAt(i))) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            i += 1
            vFrom = i
            val close = html.indexOf(q, i)
            i = if (close < 0 || close > n) n else close
            vUntil = i
            if (i < n) i += 1
          } else {
            vFrom = i
            while (i < n && !Character.isWhitespace(html.charAt(i)) && html.charAt(i) != '>') i += 1
            vUntil = i
          }
        }
        if (acc != null && aEnd > aStart)
          acc.map = acc.map.updated(html.substring(aStart, aEnd).toLowerCase,
            decodeEntities(html.substring(vFrom, vUntil)))
      }
    }
    n.toLong << 1
  }

  /** The attributes of the start-tag attribute span [from, until) (see the
    * contract above). Immutable Map1..Map4 for the typical 1-4 attributes.
    */
  def attributes(src: String, from: Int, until: Int): Map[String, String] =
    if (from >= until) EmptyAttrs
    else {
      val acc = new AttrAcc
      scanAttrs(src, from, until, acc)
      acc.map
    }

  private val EmptyAttrs: Map[String, String] = Map.empty

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
