package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.detect.{Cascade, GridKind, IslandDetector}
import graft.core.grid.{A1, Cell, CellGrid, GridHelpers, PyFloat}
import graft.core.html.{HtmlTokenizer, PageParser}

/** Property tests (SURVEY.md §5.2.3): island partition covers all cells,
  * near-A1-translation behaviour, serialization round trips, tokenizer
  * robustness on arbitrary input.
  */
class PropertySpec extends AnyFunSuite {

  /** Run a scalacheck property under ScalaTest (no scalatestplus bridge in
    * the offline cache).
    */
  private def check(prop: Prop): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, result.status.toString)
  }

  private val cellGen: Gen[(Int, Int)] = for {
    r <- Gen.choose(0, 30)
    c <- Gen.choose(0, 20)
  } yield (r, c)

  private def gridOf(coords: Seq[(Int, Int)]): CellGrid = {
    val g = new CellGrid(coords.map(_._1).maxOption.fold(0)(_ + 1),
      coords.map(_._2).maxOption.fold(0)(_ + 1))
    coords.foreach { case (r, c) => g.put(Cell.str(s"v$r-$c", r, c)) }
    g
  }

  /** The cells of the 8-connected components with at least `minSize`
    * cells, by plain BFS.
    */
  private def componentCells(cells: Set[(Int, Int)], minSize: Int): Set[(Int, Int)] = {
    val seen = scala.collection.mutable.Set.empty[(Int, Int)]
    val out = Set.newBuilder[(Int, Int)]
    cells.foreach { start =>
      if (seen.add(start)) {
        val comp = scala.collection.mutable.ArrayBuffer(start)
        var i = 0
        while (i < comp.size) {
          val (r, c) = comp(i)
          for (dr <- -1 to 1; dc <- -1 to 1) {
            val n = (r + dr, c + dc)
            if (cells.contains(n) && seen.add(n)) comp += n
          }
          i += 1
        }
        if (comp.size >= minSize) out ++= comp
      }
    }
    out.result()
  }


  test("SpanCodec round-trips in-range spans and rejects out-of-range/negative") {
    import graft.core.grid.SpanCodec
    val inRange = for {
      vFrom <- Gen.chooseNum(0, SpanCodec.MaxFrom)
      vLen <- Gen.chooseNum(0, SpanCodec.MaxLen)
      lT <- Gen.chooseNum(0, SpanCodec.MaxTrim)
      rT <- Gen.chooseNum(0, SpanCodec.MaxTrim)
    } yield (vFrom, vLen, lT, rT)
    check(Prop.forAll(inRange) { case (vFrom, vLen, lT, rT) =>
      val enc = SpanCodec.encodeIdentity(vFrom - lT, vFrom + vLen + rT, vFrom, vFrom + vLen)
      enc != SpanCodec.Invalid &&
        SpanCodec.vFrom(enc) == vFrom && SpanCodec.vLen(enc) == vLen &&
        SpanCodec.lTrim(enc) == lT && SpanCodec.rTrim(enc) == rT &&
        SpanCodec.vUntil(enc) == vFrom + vLen
    })
    // out-of-range or inverted fields must yield Invalid (the caller falls
    // back to materialized strings), never a garbage encoding
    assert(SpanCodec.encodeIdentity(0, 3, 1, 5) == SpanCodec.Invalid) // rUntil < vUntil (negative rTrim)
    assert(SpanCodec.encodeIdentity(2, 5, 1, 5) == SpanCodec.Invalid) // vFrom < rFrom (negative lTrim)
    assert(SpanCodec.encodeIdentity(0, 5, 3, 2) == SpanCodec.Invalid) // vUntil < vFrom (negative len)
    assert(SpanCodec.encodeIdentity(-5, -1, -4, -2) == SpanCodec.Invalid) // negative offsets
    assert(SpanCodec.encodeIdentity(0, SpanCodec.MaxLen + 2, 0,
      SpanCodec.MaxLen + 2) == SpanCodec.Invalid) // oversize value
    assert(SpanCodec.encodeRaw(-3, 2) == SpanCodec.Invalid)
    assert(SpanCodec.encodeRaw(4, 2) == SpanCodec.Invalid)
    val raw = SpanCodec.encodeRaw(7, 12)
    assert(raw != SpanCodec.Invalid && SpanCodec.vFrom(raw) == 7 &&
      SpanCodec.vUntil(raw) == 12 && SpanCodec.lTrim(raw) == 0 && SpanCodec.rTrim(raw) == 0)
  }

  test("fast-path decode == strict UTF-8 decode contract") {
    // the Encoding.decode fast path must agree with a plain UTF-8 decode
    // whenever its guard holds (no BOM, no NUL in the first 1 KB, strictly
    // valid UTF-8) — and must never throw on arbitrary bytes
    val bytesGen2 = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray),
      Gen.alphaNumStr.map(_.getBytes("UTF-8")),
      Gen.listOf(Gen.oneOf("é", "中", "a", " ", "\n")).map(_.mkString.getBytes("UTF-8")))
    check(Prop.forAll(bytesGen2) { bs =>
      val d = graft.core.html.Encoding.decode(bs)
      val noBom = !(bs.length >= 3 && (bs(0) & 0xFF) == 0xEF && (bs(1) & 0xFF) == 0xBB &&
        (bs(2) & 0xFF) == 0xBF) &&
        !(bs.length >= 2 && (((bs(0) & 0xFF) == 0xFF && (bs(1) & 0xFF) == 0xFE) ||
          ((bs(0) & 0xFF) == 0xFE && (bs(1) & 0xFF) == 0xFF)))
      val noNul = !bs.take(1024).contains(0.toByte)
      if (noBom && noNul && graft.core.html.Encoding.strictDecodes(bs,
          java.nio.charset.StandardCharsets.UTF_8))
        d == new String(bs, java.nio.charset.StandardCharsets.UTF_8)
      else d != null
    })
  }

  test("DelimitedText.splitChar == String.split(quoted delimiter, -1)") {
    val lineGen = Gen.listOf(Gen.oneOf("a", "bb", ",", ",,", "|", " ", "")).map(_.mkString)
    val delimGen = Gen.oneOf(',', '|', ';', '\t')
    check(Prop.forAll(lineGen, delimGen) { (line, d) =>
      graft.core.html.DelimitedText.splitChar(line, d).toSeq ==
        line.split(java.util.regex.Pattern.quote(d.toString), -1).toSeq
    })
  }

  test("PageParser.utf8LenTrimmed == trimmed getBytes length") {
    val sGen = Gen.listOf(Gen.oneOf("a", " ", "\t", "é", "中", "𝄞", "\n", "x")).map(_.mkString)
    check(Prop.forAll(sGen, Gen.chooseNum(0, 5), Gen.chooseNum(0, 5)) { (s, dropL, dropR) =>
      val from = math.min(dropL, s.length)
      val until = math.max(from, s.length - dropR)
      graft.core.html.PageParser.utf8LenTrimmed(s, from, until) ==
        s.substring(from, until).trim.getBytes("UTF-8").length.toLong
    })
  }

  /** Records each tokenizer event as one line: `S:name:sortedAttrs:selfClosing`,
    * `E:name`, `T:hasAmp:rawSpan`.
    */
  private class Recorder extends HtmlTokenizer.TokSink {
    val lines = Vector.newBuilder[String]
    // the canonical name for a known code, else the name span lowercased
    private def tagName(tag: Int, src: String, from: Int, until: Int): String =
      if (tag != HtmlTokenizer.Tag.Other) HtmlTokenizer.Tag.Names(tag)
      else src.substring(from, until).toLowerCase
    def onStartTag(tag: Int, src: String, nameFrom: Int, attrFrom: Int, attrUntil: Int,
        selfClosing: Boolean): Unit = {
      val attrs = HtmlTokenizer.attributes(src, attrFrom, attrUntil)
      lines += s"S:${tagName(tag, src, nameFrom, attrFrom)}:" +
        s"${attrs.toSeq.sorted.mkString(",")}:$selfClosing"
    }
    def onEndTag(tag: Int, src: String, nameFrom: Int, nameUntil: Int): Unit =
      lines += s"E:${tagName(tag, src, nameFrom, nameUntil)}"
    def onText(src: String, from: Int, until: Int, hasAmp: Boolean): Unit =
      lines += s"T:$hasAmp:${src.substring(from, until)}"
  }

  private def events(html: String): Vector[String] = {
    val rec = new Recorder
    HtmlTokenizer.tokenize(html, rec)
    rec.lines.result()
  }

  /** Seeded tag soup: mixed-case, unknown and non-ASCII tag names, quoted
    * values holding `>` and `/`, unquoted values, self-closing tags,
    * raw-text elements closed in another case, unterminated comments and
    * tags, stray `<` in text, and enough table markup for grids to form.
    */
  private def tagSoup(seed: Long): String = {
    val r = new java.util.Random(seed)
    def pick(xs: Array[String]): String = xs(r.nextInt(xs.length))
    def cased(s: String): String = r.nextInt(4) match {
      case 0 => s.toUpperCase
      case 1 => s.map(c => if (r.nextBoolean()) c.toUpper else c)
      case _ => s
    }
    val names = Array("td", "td", "td", "tr", "tr", "th", "table", "caption", "b", "strong",
      "a", "p", "div", "pre", "br", "span", "li", "h2", "thead", "tbody", "head", "nav",
      "form", "svg", "button", "blockquote", "font", "x-widget", "my-tag1", "i",
      "tdé", "ñav", "bloc\u212Aquote", "dİv", "ｔｄ")
    val rawNames = Array("script", "style", "textarea", "noscript")
    val attrs = Array("colspan=2", "rowspan=\"3\"", "COLSPAN = '2'", "rowspan=0",
      "style=\"font-weight:bold;border:2px solid\"", "style='text-align:right'",
      "style=\"background-color: #eee; color:red; font-size:14px\"", "bgcolor=#eee",
      "align=CENTER", "title=\"a>b\"", "href=\"/x/y/\"", "data-x='1/>2'", "nowrap",
      "border=1", "border=\"0\"", "summary=\"s&amp;t\"", "id=t1", "class=\"c d\"", "=x",
      "/", "a=b/", "href=x/>", "Title=\"Té\"", "colspan=\"2\" colspan=\"4\"")
    val seps = Array(" ", " ", "\t", "\n", "\u2003", "\u00A0", "")
    val texts = Array("1", "42", "3.5", "-7", "1,234.5", "2024-01-02", "x", "Total",
      "Tom & Jerry", "a < b", "x<1", "<", "<<", "&amp;", "&#65;", "&#x42;", "&nbsp;",
      "&bogus;", "  ", "\n", "é中", "some words of running text here.")
    val sb = new StringBuilder
    val pieces = 10 + r.nextInt(70)
    var k = 0
    while (k < pieces) {
      r.nextInt(24) match {
        case 0 | 1 | 2 | 3 | 4 | 5 | 6 => // start tag
          sb.append('<').append(cased(pick(names)))
          var a = r.nextInt(4) - 1
          while (a > 0) { sb.append(pick(seps)).append(pick(attrs)); a -= 1 }
          sb.append(pick(Array(">", ">", ">", "/>", " />", " / >", "")))
        case 7 | 8 | 9 => // end tag, clean or odd
          val n = cased(pick(names))
          sb.append(pick(Array(s"</$n>", s"</$n>", s"</$n >", s"</ $n>", s"</$n x>",
            "</>", s"</$n\u2003>", s"</$n\u0001>", s"</$n")))
        case 10 => // raw-text element, closed in any case or not at all
          val n = pick(rawNames)
          sb.append('<').append(cased(n)).append('>').append("if (a<b && c>d) </p> x")
          if (r.nextInt(8) > 0) sb.append("</").append(cased(n)).append(pick(Array(">", " >", "")))
        case 11 =>
          sb.append(pick(Array("<!--c-->", "<!-- a > b -->", "<!DOCTYPE html>", "<?xml v?>",
            "<!x>", "<!-- never closed", "<?")))
        case 12 | 13 => // a table whose cells carry attributes and closing slack
          sb.append('<').append(cased("table")).append(pick(Array("", " border=1", " summary=s")))
            .append('>')
          var row = 2 + r.nextInt(4)
          while (row > 0) {
            sb.append('<').append(cased("tr")).append('>')
            var col = 2 + r.nextInt(3)
            while (col > 0) {
              val n = cased(if (r.nextInt(5) == 0) "th" else "td")
              sb.append('<').append(n)
              if (r.nextInt(3) == 0) sb.append(' ').append(pick(attrs))
              sb.append('>').append(pick(texts))
              if (r.nextBoolean()) sb.append("</").append(n).append('>')
              col -= 1
            }
            if (r.nextBoolean()) sb.append("</").append(cased("tr")).append('>')
            row -= 1
          }
          if (r.nextInt(6) > 0) sb.append("</").append(cased("table")).append('>')
        case 14 => // delimited text in a pre block
          val d = pick(Array(",", "\t", "|", ";", " "))
          sb.append('<').append(cased("pre")).append('>')
          var line = 2 + r.nextInt(4)
          while (line > 0) {
            sb.append(Seq.fill(3)(pick(texts).trim).mkString(d)).append('\n')
            line -= 1
          }
          sb.append("</").append(cased("pre")).append('>')
        case _ =>
          sb.append(pick(texts))
      }
      k += 1
    }
    sb.toString
  }

  private def sha256Hex(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("tag-soup corpus: tokenizer events and extracted text match the pinned digests") {
    // both digests were computed with the tokenizer that built string tag
    // names and an attribute map per start tag, before tag codes and
    // attribute spans: any change of behaviour on these documents moves them
    val docs = (0 until 5000).map(i => tagSoup(i.toLong))
    val evDigest = sha256Hex(docs.iterator.flatMap(d => events(d).iterator ++ Iterator("\u0000")))
    val exDigest = sha256Hex(docs.iterator.map(d =>
      graft.core.extract.Extractor.extractHtml(d.getBytes("UTF-8")).sha256))
    assert(evDigest == "1e1d6471ab34b0e4d142aaa3f785171bcada4f38b3ce8d6b1340b1af88171bda")
    assert(exDigest == "4746b596d6749a1d12d0c78b0d9ff2a58eb73cc4197a05d187ca3a4712ff4cc3")
  }

  test("start-tag attribute spans end at the tag's close and parse alone") {
    // the span must hold everything its attributes need: a bounded rescan
    // gives the map an unbounded one does, and the span ends at `>`, at the
    // `/` of `/>`, or at the end of an unterminated tag
    val htmlGen = Gen.listOf(Gen.oneOf("<td", "<TABLE", "<p", " colspan=2", " a='x>y'",
      " b=\"/>\"", " c=d/", " /", " =v", " e", ">", "/>", "text", "&amp;", " ", "\t",
      "<", "'", "\"")).map(_.mkString)
    check(Prop.forAll(htmlGen) { h =>
      val spans = Vector.newBuilder[(Int, Int, Boolean)]
      HtmlTokenizer.tokenize(h, new Recorder {
        override def onStartTag(tag: Int, src: String, nameFrom: Int, attrFrom: Int,
            attrUntil: Int, selfClosing: Boolean): Unit =
          spans += ((attrFrom, attrUntil, selfClosing))
      })
      spans.result().forall { case (from, until, selfClosing) =>
        val endsAtClose =
          if (selfClosing) h.startsWith("/>", until)
          else until == h.length || h.charAt(until) == '>'
        endsAtClose &&
          HtmlTokenizer.attributes(h, from, until) == HtmlTokenizer.attributes(h, from, h.length)
      }
    })
  }

  test("DelimitedText.columnCounts == the regex split counts they replace") {
    val ws = java.util.regex.Pattern.compile("\\s+")
    def oracle(line: String, d: Char): Int =
      if (d == ' ') ws.split(line).count(_.trim.nonEmpty) else line.count(_ == d) + 1
    val lineGen = Gen.listOf(Gen.oneOf("a", "bb", "1.5", " ", "  ", "\t", "\u000B", "\f",
      "\r", "\n", "\u0000", "\u0001", "\u001F", "\u00A0", "\u2003", ",", "|", ";", ""))
      .map(_.mkString)
    val delims = graft.core.html.DelimitedText.Delimiters
    check(Prop.forAll(lineGen) { line =>
      graft.core.html.DelimitedText.columnCounts(line).toSeq == delims.map(oracle(line, _))
    })
  }

  test("Css.pxValue scanner == the reference regex (leftmost match)") {
    val pxRegex = "([0-9]+(?:\\.[0-9]+)?)px".r
    def oracle(v: String): Option[Double] =
      pxRegex.findFirstMatchIn(v.toLowerCase).map(_.group(1).toDouble)
    val styleGen = Gen.listOf(Gen.oneOf("1", "2.5", "px", "PX", ".", "0", "12", "3.",
      " ", "solid", "p", "x", "black", "11px", "1.2.3px")).map(_.mkString)
    check(Prop.forAll(styleGen) { v =>
      PageParser.Css.pxValue(v) == oracle(v)
    })
  }

  test("grid observables == a Map model over the same in-bounds puts") {
    // every observable (sorted traversal, random access, size, bounds,
    // counts) equals a plain Map[(row, col), value] fed the same puts —
    // duplicates included, where the later put overwrites; cellGen spans
    // 0..30 × 0..20, so the puts are filtered to the declared bounds
    check(Prop.forAll(Gen.listOfN(80, Gen.zip(cellGen, Gen.alphaStr.map(_.take(4)))),
        Gen.chooseNum(1, 35), Gen.chooseNum(1, 25)) { (puts, dr, dc) =>
      val inBounds = puts.filter { case ((r, c), _) => r < dr && c < dc }
      val g = new CellGrid(dr, dc)
      var model = Map.empty[(Int, Int), String]
      inBounds.foreach { case ((r, c), v) =>
        val value = s"v$r-$c$v"
        g.put(Cell.str(value, r, c))
        model += (r, c) -> value
      }
      def count(r0: Int, r1: Int, c0: Int, c1: Int) =
        model.keys.count { case (r, c) => r >= r0 && r <= r1 && c >= c0 && c <= c1 }
      GridHelpers.cellsSorted(g).map(c => (c.row, c.col, c.value)).toSeq ==
        model.toSeq.sorted.map { case ((r, c), v) => (r, c, v) } &&
        g.size == model.size &&
        g.maxRow == model.keys.map(_._1).maxOption.getOrElse(0) &&
        g.maxCol == model.keys.map(_._2).maxOption.getOrElse(0) &&
        (0 to 31).forall(r => (0 to 21).forall(c =>
          Option(g.get(r, c)).map(_.value) == model.get((r, c)))) &&
        g.countIn(0, 31, 0, 21) == model.size &&
        g.countIn(2, 9, 3, 7) == count(2, 9, 3, 7)
    })
  }

  test("detectIslands: identical when the declared bounds are padded") {
    // the flood fill strides its visited bitset by the declared width and
    // spans the used rows only; islands must be indistinguishable — same
    // ranges, sizes, and float-exact confidences — when the same cells sit
    // in a grid padded with empty rows and columns, over arbitrary sparse
    // layouts incl. multi-island and diagonal-connected shapes
    check(Prop.forAll(Gen.listOfN(70, cellGen),
        Gen.chooseNum(1, 40), Gen.chooseNum(1, 30)) { (coords, padR, padC) =>
      val cells = coords.distinct
      val tight = gridOf(cells)
      val padded = new CellGrid(tight.maxRow + 1 + padR, tight.maxCol + 1 + padC)
      cells.foreach { case (r, c) => padded.put(Cell.str(s"v$r-$c", r, c)) }
      def obs(g: CellGrid) = IslandDetector.detectIslands(g).map(i =>
        (i.minRow, i.minCol, i.maxRow, i.maxCol, i.cells.size, i.confidence, i.density, i.hasHeaders))
      obs(tight) == obs(padded)
    })
  }

  test("islands partition the cells of the 8-connected components of at least 4 cells") {
    // unformatted cells give no formatting split, so the islands are the
    // flood fill's components (>= 4 cells) after the reconnect and merge
    // steps, which can union islands but never drop or duplicate a cell
    check(Prop.forAll(Gen.chooseNum(40, 250).flatMap(Gen.listOfN(_, cellGen))) { coords =>
      val cells = coords.distinct
      val islands = IslandDetector.detectIslands(gridOf(cells))
      val keys = islands.map { isl =>
        val b = Set.newBuilder[(Int, Int)]
        isl.cells.foreach(k => b += (((k >> 32).toInt, k.toInt)))
        b.result()
      }
      val disjoint = keys.map(_.size).sum == keys.flatten.toSet.size
      disjoint && keys.flatten.toSet == componentCells(cells.toSet, minSize = 4)
    })
  }

  test("island bounds always contain their cells") {
    check(Prop.forAll(Gen.listOfN(40, cellGen)) { coords =>
      val g = gridOf(coords.distinct)
      IslandDetector.detectIslands(g).forall { isl =>
        var ok = true
        isl.cells.foreach { k =>
          val r = (k >> 32).toInt
          val c = k.toInt
          if (r < isl.minRow || r > isl.maxRow || c < isl.minCol || c > isl.maxCol) ok = false
        }
        ok
      }
    })
  }

  test("A1 codec round-trips arbitrary coordinates") {
    check(Prop.forAll(Gen.choose(0, 100000), Gen.choose(0, 20000)) { (r, c) =>
      GridHelpers.cellToIndices(s"${A1.colLetter(c)}${r + 1}") == ((r, c))
    })
  }

  test("PyFloat repr round-trips doubles") {
    check(Prop.forAll(Gen.choose(-1e12, 1e12)) { d =>
      java.lang.Double.parseDouble(PyFloat.repr(d)) == d
    })
    check(Prop.forAll(Gen.choose(0.0, 1.0)) { d =>
      java.lang.Double.parseDouble(PyFloat.repr(d)) == d
    })
  }

  test("PyFloat repr equals the legacy search, or beats it, on 10^6 seeded doubles") {
    import java.math.BigDecimal
    val rng = new java.util.SplittableRandom(7)
    def next(i: Int): Double = (i & 7) match {
      case 0 | 1 => // any finite double
        var d = java.lang.Double.longBitsToDouble(rng.nextLong())
        while (d.isNaN || d.isInfinite) d = java.lang.Double.longBitsToDouble(rng.nextLong())
        d
      case 2 => rng.nextDouble()
      case 3 => rng.nextDouble(-1e12, 1e12)
      case 4 => rng.nextInt(401).toDouble / (1 + rng.nextInt(400))
      case 5 => rng.nextLong(100000000L).toDouble / 100
      case 6 => // where the legacy search went wrong: ulp 2^7..2^10 and 2^32
        Math.scalb(1.0 + rng.nextDouble(), Array(59, 60, 61, 62, 84)(rng.nextInt(5)))
      case _ => Math.scalb(1.0 + rng.nextDouble(), rng.nextInt(-1074, 1024))
    }
    val n = 1000000
    val byExponent = scala.collection.mutable.TreeMap.empty[Int, Int]
    val untargeted = Vector.newBuilder[String]
    var i = 0
    while (i < n) {
      val d = next(i)
      val now = PyFloat.repr(d)
      val old = LegacyPyFloat.repr(d)
      if (now != old) {
        val exact = new BigDecimal(d)
        val a = new BigDecimal(now)
        val b = new BigDecimal(old)
        assert(java.lang.Double.parseDouble(now) == d, s"$now does not round-trip to $old")
        val (la, lb) = (a.stripTrailingZeros.precision, b.stripTrailingZeros.precision)
        assert(la <= lb, s"$now longer than $old")
        // shortest first, then nearest: only an equally long string must be no farther
        assert(la < lb || a.subtract(exact).abs.compareTo(b.subtract(exact).abs) <= 0,
          s"$now farther than $old")
        val e = Math.getExponent(d)
        byExponent(e) = byExponent.getOrElse(e, 0) + 1
        if ((i & 7) != 6) untargeted += s"$old -> $now"
      }
      i += 1
    }
    info(s"${byExponent.values.sum} of $n differ from the legacy search; by binary exponent: " +
      byExponent.mkString(", "))
    info(s"outside the targeted exponents: ${untargeted.result().mkString(", ")}")
  }

  test("PyFloat's fixed-point logarithms are exact over a double's exponents") {
    import java.math.{BigDecimal, BigInteger}
    def floorLog10(x: BigDecimal): Int = x.precision - x.scale - 1
    def pow2(e: Int) = new BigDecimal(Math.scalb(1.0, e))
    for (e <- -1074 to 971) {
      assert(PyFloat.flog10pow2(e) == floorLog10(pow2(e)), s"flog10pow2($e)")
      if (e > -1074)
        assert(PyFloat.flog10threeQuartersPow2(e) == floorLog10(pow2(e).multiply(new BigDecimal("0.75"))),
          s"flog10threeQuartersPow2($e)")
    }
    for (e <- -292 to 324) {
      val bits = BigInteger.TEN.pow(math.abs(e)).bitLength
      assert(PyFloat.flog2pow10(e) == (if (e >= 0) bits - 1 else -bits), s"flog2pow10($e)")
    }
  }

  test("zero-copy sha256Hex == digest of String.getBytes(UTF_8)") {
    // the serialize path hashes the canonical text via incremental manual
    // UTF-8 encoding (no getBytes copy); it must be bit-identical to the
    // reference formulation for every char class, including unpaired
    // surrogates (Java replaces those with '?')
    import java.security.MessageDigest
    def ref(s: String): String = {
      val d = MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    val charGen = Gen.frequency(
      (8, Gen.chooseNum(0x20, 0x7E)), // ascii
      (2, Gen.chooseNum(0x80, 0x7FF)), // 2-byte
      (2, Gen.chooseNum(0x800, 0xD7FF)), // 3-byte below surrogates
      (1, Gen.chooseNum(0xD800, 0xDFFF)), // raw surrogate halves (unpaired!)
      (1, Gen.chooseNum(0xE000, 0xFFFD)), // 3-byte above surrogates
      (1, Gen.const(0x1F600)) // paired surrogate (emoji, 4-byte)
    )
    val strGen = Gen.listOf(charGen).map(_.flatMap(Character.toChars(_).toSeq).mkString)
    check(Prop.forAll(strGen) { s =>
      graft.core.extract.Extractor.sha256Hex(s) == ref(s)
    })
    // chunk-boundary crossing: strings around the 8192-byte buffer edge
    for (n <- Seq(8191, 8192, 8193, 20000)) {
      val s = "é" * n // 2 bytes each — straddles flushes at odd offsets
      assert(graft.core.extract.Extractor.sha256Hex(s) == ref(s), s"len $n")
    }
  }

  test("tokenizer never throws on arbitrary strings") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      events(s).size >= 0
    })
    check(Prop.forAll(Gen.listOf(Gen.oneOf("<table>", "<tr>", "</td>", "<b", "text", "&amp;",
      "<!--", "-->", "\"", "<td colspan='2'>", "</pre>", "<a href=x>"))) { parts =>
      val res = graft.core.extract.Extractor.extractHtml(parts.mkString.getBytes("UTF-8"))
      res.sha256.length == 64
    })
  }

  test("UnicodeNorm kernel == java.text.Normalizer over arbitrary unicode") {
    // the codegen entry point (TextKernels.unicodeNorm over UTF8String)
    // must agree with the platform Normalizer for every form, including
    // surrogate pairs, lone combining marks, and unassigned codepoints;
    // the UTF8String round-trip (String -> UTF8 bytes -> String) must not
    // corrupt what normalization produces
    import org.apache.spark.unsafe.types.UTF8String
    val uniGen: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.choose(32, 126).map(_.toChar.toString),
      3 -> Gen.oneOf("é", "é", "Å", "ﬁ", "Ａ", "½", "각",
        "́", "ñ", "😀"),
      1 -> Gen.choose(0x80, 0xFFF).map(cp => new String(Character.toChars(cp)))
    )).map(_.mkString)
    check(Prop.forAll(uniGen, Gen.choose(0, 3)) { (s, form) =>
      val f = form match {
        case 0 => java.text.Normalizer.Form.NFC
        case 1 => java.text.Normalizer.Form.NFD
        case 2 => java.text.Normalizer.Form.NFKC
        case _ => java.text.Normalizer.Form.NFKD
      }
      val got = graft.functions.TextKernels
        .unicodeNorm(UTF8String.fromString(s), form).toString
      got == java.text.Normalizer.normalize(s, f)
    })
  }

  test("detection output is invariant to cell insertion order") {
    check(Prop.forAll(Gen.listOfN(50, cellGen)) { coords =>
      val distinct = coords.distinct
      val a = Cascade.detect(gridOf(distinct), GridKind.Formatted)
      val b = Cascade.detect(gridOf(scala.util.Random.shuffle(distinct)), GridKind.Formatted)
      a.tables.map(t => (t.span, t.confidence, t.headers)) ==
        b.tables.map(t => (t.span, t.confidence, t.headers))
    })
  }

  test("type-inference canonical shortcuts equal the full Python-repr path") {
    import graft.core.grid.TypeInfer
    // decimal strings across the shortcut boundary (sig digits, zeros) —
    // intPart=0 drawn with ~50% weight and fractions with 0-6 leading
    // zeros, so the sub-1e-4 scientific-notation region (where Python repr
    // switches to "1e-05") is actually exercised, not hit with p~1e-8
    val decGen = for {
      intPart <- Gen.frequency(1 -> Gen.const(0L), 1 -> Gen.choose(0L, 99999999L))
      leadZeros <- Gen.choose(0, 6)
      fracDigits <- Gen.choose(1, 9)
      frac <- Gen.choose(0L, math.pow(10, fracDigits).toLong - 1)
      neg <- Gen.oneOf("", "-")
    } yield s"$neg$intPart.${"0" * leadZeros}${s"%0${fracDigits}d".format(frac)}"
    check(Prop.forAll(decGen) { s =>
      val (v, dt) = TypeInfer.infer(s)
      val d = java.lang.Double.parseDouble(s.replace(",", ""))
      dt == "number" && v == PyFloat.repr(d)
    })
    // explicit pins at the exp10 = -4 boundary and below it
    Seq("0.0001", "0.00001", "0.000001", "0.0000123", "0.00012", "0.001",
      "0.1234567", "0.0001234").foreach { s =>
      val (v, dt) = TypeInfer.infer(s)
      val expect = PyFloat.repr(java.lang.Double.parseDouble(s))
      assert(dt == "number" && v == expect, s"infer($s) = $v, want $expect")
    }
    val intGen = Gen.choose(Long.MinValue + 1, Long.MaxValue).map(_.toString)
    check(Prop.forAll(intGen) { s =>
      val (v, dt) = TypeInfer.infer(s)
      dt == "number" && v == java.lang.Long.parseLong(s).toString
    })
  }

  test("Encoding.decode is total on arbitrary byte payloads") {
    val bytesGen = Gen.choose(0, 512).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue).map(_.toByte)))
    check(Prop.forAll(bytesGen) { bs =>
      val arr = bs.toArray
      val decoded = graft.core.html.Encoding.decode(arr) // must never throw
      val res = graft.core.html.Encoding.detect(arr)
      decoded != null && res.encoding.nonEmpty
    })
  }

  test("normalizeWs is idempotent") {
    check(Prop.forAll(Gen.asciiStr) { s =>
      val once = PageParser.normalizeWs(s)
      PageParser.normalizeWs(once) == once
    })
  }

  test("inferSpan matches inferInto verdicts on arbitrary embedded spans") {
    import graft.core.grid.{StrView, TypeInfer}
    // cell-ish content: mixes of digits, separators, words, unicode
    // (including the toLowerCase special cases), embedded whitespace
    val cellGen: Gen[String] = Gen.oneOf(
      Gen.asciiStr,
      Gen.listOf(Gen.oneOf(Gen.numChar, Gen.oneOf('.', ',', '-', '+', 'e', 'E', ' ')))
        .map(_.mkString),
      Gen.oneOf("true", "TRUE", "Yes", "no", "0", "1", "007", "1.5", "1.50",
        "2024-01-15", "01/02/2024", "15 Jan 2024", "3,141", "1e10", "0.00001",
        "İstanbul", "Kelvin", "café", "日本語", " padded ",
        " nbsp ", "-12.75", "0.5", "  "),
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\t', '.', '-', '/',
        'İ', 'K', ' ', 'm', 'a', 'r'))).map(_.mkString))
    val padGen: Gen[String] =
      Gen.listOf(Gen.oneOf(' ', '\t', 'x', '7', '\n')).map(_.mkString)
    check(Prop.forAll(padGen, cellGen, padGen) { (pre, cell, post) =>
      val text = pre + cell + post
      val res = new TypeInfer.Res
      TypeInfer.inferSpan(text, pre.length, pre.length + cell.length, res)
      val (wantPy, wantDt) = TypeInfer.infer(cell)
      val gotPy =
        if (res.identity) text.substring(res.vFrom, res.vUntil) else res.py
      res.dt == wantDt && gotPy == wantPy &&
        // identity must never be claimed when the render differs
        (!res.identity || wantPy == cell.trim)
    })
  }

  test("span-backed cells behave exactly like string cells") {
    import graft.core.grid.{StrView, TypeInfer}
    val cellGen: Gen[String] = Gen.oneOf(Gen.asciiStr,
      Gen.oneOf("42", "x", "1.5", "2024-01-15", "hello world", "  inner  ",
        " ", "true"))
    check(Prop.forAll(Gen.asciiStr, cellGen, Gen.asciiStr) { (pre, cell, post) =>
      val text = pre + cell + post
      val view = new StrView(text)
      val res = new TypeInfer.Res
      TypeInfer.inferSpan(text, pre.length, pre.length + cell.length, res)
      val spanCell =
        if (res.dt == "empty") null
        else if (res.identity)
          Cell.spanned(view, pre.length, pre.length + cell.length,
            res.vFrom, res.vUntil, res.dt, 0, 0)
        else Cell.convertedSpan(res.py, view, pre.length, pre.length + cell.length,
          res.dt, 0, 0)
      val stringCell =
        if (res.dt == "empty") null
        else Cell.inferred(cell, 0, 0, new TypeInfer.Res)
      (spanCell == null) == (stringCell == null) && (spanCell == null || {
        val sb1 = new java.lang.StringBuilder
        spanCell.appendValueTo(sb1)
        // probe BEFORE materialization, then force it, then re-check
        val preChecks = spanCell.valueIsNull == stringCell.valueIsNull &&
          spanCell.isEmpty == stringCell.isEmpty
        preChecks &&
          spanCell.value == stringCell.value &&
          spanCell.raw == cell && // inferred keeps the untrimmed part as raw
          sb1.toString == (if (stringCell.value == null) "" else stringCell.value) &&
          spanCell.isEmpty == stringCell.isEmpty &&
          spanCell.dataType == stringCell.dataType
      })
    })
  }

  test("columnar grid: cursor/primitive reads == materialized Cell reads") {
    // the detect kernel reads grids through GridCursor / presentAt /
    // valueAt / appendValueAt without materializing Cell objects, while the
    // extraction path materializes (and caches) Cells via get. Both views
    // must agree on every observable, in BOTH probe orders: cursor-first
    // (pure slot path, no Cell exists yet) and get-first (the cursor then
    // rides the cached object via loadObj). Driven through the two real
    // parse paths so identity spans, converted renders, formatted-tier
    // object cells, and the HTML slab backing are all exercised.
    import graft.core.html.DelimitedText
    val valGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(12)),
      Gen.oneOf("42", "x", "1.5", "2024-01-15", "hello world", "  inner  ",
        " ", "", "true", "007", "3,141", "İstanbul", "café", "-12.75"))
    val styleGen: Gen[String] = Gen.oneOf(
      Gen.const(""),
      Gen.const(" style=\"font-weight:bold\""),
      Gen.const(" style=\"border:1px solid black\""),
      Gen.const(" style=\"border-top:2px solid red;background-color:#ffee00\""),
      Gen.const(" style=\"color:#112233;text-align:right\""))

    def observe(g: CellGrid, cursorFirst: Boolean): Vector[Any] = {
      def viaCursor: Vector[Any] = {
        val cur = g.cursor
        val out = Vector.newBuilder[Any]
        var r = 0
        while (r <= g.maxRow) {
          var c = 0
          while (c <= g.maxCol) {
            val p = g.presentAt(r, c)
            val moved = cur.moveTo(r, c)
            out += ((p, moved))
            if (moved) {
              val sb = new java.lang.StringBuilder
              g.appendValueAt(r, c, sb)
              out += ((cur.isBold, cur.isMerged, cur.dataType, cur.dataTypeCode,
                cur.borderNibble, cur.backgroundColor, cur.fontColor,
                cur.alignment, sb.toString, cur.value, g.valueAt(r, c)))
            }
            c += 1
          }
          r += 1
        }
        out.result()
      }
      def viaCells: Vector[Any] = {
        val out = Vector.newBuilder[Any]
        var r = 0
        while (r <= g.maxRow) {
          var c = 0
          while (c <= g.maxCol) {
            val cell = g.get(r, c)
            out += ((cell != null, cell != null))
            if (cell != null) {
              val nib = (if (cell.hasBorder(cell.borderTop)) 1 else 0) |
                (if (cell.hasBorder(cell.borderBottom)) 2 else 0) |
                (if (cell.hasBorder(cell.borderLeft)) 4 else 0) |
                (if (cell.hasBorder(cell.borderRight)) 8 else 0)
              out += ((cell.isBold, cell.isMerged, cell.dataType, cell.dataTypeCode,
                nib, cell.backgroundColor, cell.fontColor,
                cell.alignment, cell.value, cell.value, cell.value))
            }
            c += 1
          }
          r += 1
        }
        out.result()
      }
      if (cursorFirst) { val a = viaCursor; val b = viaCells; assert(a == b); a }
      else { val b = viaCells; val a = viaCursor; assert(a == b); a }
    }

    val rowsGen = Gen.listOfN(4, Gen.listOfN(4, valGen))
    val stylesGen = Gen.listOfN(16, styleGen)
    check(Prop.forAll(rowsGen, stylesGen) { (rows, styles) =>
      // delimited path: StrView backing, identity + converted span slots
      val text = rows.map(_.map(v => v.replace(',', '.').replace('\n', ' '))
        .mkString(",")).mkString("\n")
      val (gd1, _) = DelimitedText.parse(text, ',')
      val (gd2, _) = DelimitedText.parse(text, ',')
      val d1 = observe(gd1, cursorFirst = true)
      val d2 = observe(gd2, cursorFirst = false)

      // HTML path: CharSlab backing, dense TableBuilder bulk-build, plus
      // formatted-tier object cells for styled <td>s
      var si = -1
      val html = "<table>" + rows.map { r =>
        "<tr>" + r.map { v =>
          si += 1
          val st = styles(si % styles.length)
          s"<td$st>${v.replace("<", "(").replace("&", "+")}</td>"
        }.mkString + "</tr>"
      }.mkString + "</table>"
      val p1 = PageParser.parse(html).regions.map(_.grid)
      val p2 = PageParser.parse(html).regions.map(_.grid)
      val h1 = p1.map(observe(_, cursorFirst = true))
      val h2 = p2.map(observe(_, cursorFirst = false))
      d1 == d2 && h1 == h2
    })
  }

  test("extractorType charwise replay == reference formula; valueNonBlank == spec") {
    // round 6: the extractor's type/blank/float predicates run straight off
    // the value chars (no value/trim/noComma materialization). Pin verdict
    // equality with the reference formula over arbitrary unicode — incl.
    // comma soup, malformed floats, İ/Kelvin lowercase traps, fullwidth
    // letters, control chars — for String-backed AND span-backed cells.
    import graft.core.html.DelimitedText
    val FloatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r
    val BoolWords = Set("true", "false", "yes", "no", "y", "n")
    def oracle(c: Cell): String = {
      if (c == null || c.isEmpty) "empty"
      else c.dataType match {
        case "boolean" => "boolean"
        case "number" => "numeric"
        case _ =>
          val v = c.value.trim
          val noComma = if (v.indexOf(',') >= 0) v.replace(",", "") else v
          if (FloatRe.matches(noComma)) "numeric"
          else if (v.length >= 6 && v.exists(ch => ch == '-' || ch == '/' || ch == ':')) "date"
          else if (BoolWords.contains(v.toLowerCase)) "boolean"
          else "text"
      }
    }
    val tricky = Gen.oneOf(Seq("3,141", "1,2,3", ",,", ",+5,", "+.5", ".5e3",
      "5.e2", "1.2.3", "-", "+", "e9", "1e", "1e+", "2024-01-15", "a-b-c1",
      "TRUE", "Yes", "nO", "Y", "İ", "K", "ß", "ÑO", "naïve", "  true  ",
      "1", "12345:", "::::::", "1,000.5", ".", "..", "0.0.0", "+1,",
      "1 000", "ＹＥＳ", "FALSE ", "no,", "t,rue", "+,5", "1,e3"))
    val anyVal: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(10)), tricky,
      Gen.listOf(Gen.oneOf(Gen.numChar, Gen.alphaChar,
        Gen.oneOf(',', '.', '-', '/', ':', '+', 'e', 'E', ' ', '\u0001', 'İ')))
        .map(_.mkString.take(14)))
    check(Prop.forAll(anyVal) { v =>
      val c = new Cell(v, v, "string", 0, 0)
      GridHelpers.extractorType(c) == oracle(c) && c.valueNonBlank == v.exists(_ > ' ')
    })
    // span-backed cells (StrView backing, converted slots, dataType
    // shortcut branches) via the delimited parser
    check(Prop.forAll(Gen.listOfN(3, Gen.listOfN(3, anyVal))) { rows =>
      val text = rows.map(_.map(v =>
        v.replace('\t', ' ').replace('\n', ' ').replace('\r', ' ')).mkString("\t"))
        .mkString("\n")
      val (g, _) = DelimitedText.parse(text, '\t')
      GridHelpers.cellsSorted(g).forall { c =>
        val got = GridHelpers.extractorType(c)
        got == oracle(c) &&
          c.valueNonBlank == (c.value != null && c.value.exists(_ > ' '))
      }
    })
  }
}
