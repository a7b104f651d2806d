package graft.core.html

import scala.annotation.switch
import scala.collection.mutable
import graft.core.detect.GridKind
import graft.core.grid.{Cell, CellGrid, Span, SpanCodec}
import graft.core.html.HtmlTokenizer.{Tag, TokSink}

/** A tabular region found in a page, in document order. */
/** Author-declared table metadata captured from markup — the web analogue
  * of the reference's Excel metadata surface (ListObjects display names /
  * named ranges / print hints, detectors/excel_metadata_extractor.py):
  * caption element text, the HTML4 summary attribute, and the table's
  * id/class attributes. Metadata only — never part of the canonical text.
  */
final case class RegionMeta(caption: String = "", summary: String = "",
    idAttr: String = "", classAttr: String = "")
object RegionMeta { val Empty: RegionMeta = RegionMeta() }

final case class GridRegion(grid: CellGrid, kind: GridKind, origin: String,
    meta: RegionMeta = RegionMeta.Empty)

/** Parsed page: boilerplate-stripped text blocks + tabular regions. */
final case class ParsedPage(
    textBlocks: Vector[String],
    regions: Vector[GridRegion],
    bytesStripped: Long
)

/** Streaming HTML → (main text, cell grids).
  *
  * This is the surface the north star adds on top of the reference's
  * detectors: a text-density + link-density block classifier strips
  * boilerplate, `<table>` markup becomes a formatted CellGrid carrying the
  * same cell-attribute contract the ported detectors consume
  * (bold/borders/merges — reference cell model sheet_data.py:24-106), and
  * `<pre>` blocks run the reference's delimited-text scoring
  * (text_reader.py:161-301).
  *
  * Contract (deterministic, documented for the fixture renderer):
  *  - tags dispatch on their `HtmlTokenizer.Tag` code through the one
  *    class table `Tag.Flags` (dropped, block, raw-text, table-structure);
  *    no tag name string is built or compared. Attributes are parsed, from
  *    the tokenizer's attribute span, only for `table`, `td` and `th`
  *  - dropped subtrees: head, nav, header, footer, aside, form, iframe, svg,
  *    select, button (+ script/style/noscript/textarea at the tokenizer level)
  *  - a text block is kept iff trimmed length >= 10 and the ratio of
  *    anchor-text chars is <= 0.5
  *  - `<th>`, font-weight >= 700, or a b/strong wrapper mark a cell bold
  *  - CSS border widths map to the reference's 4-level scale
  *    (excel_reader.py:586-612 analogue): <=1px thin, 2px medium, >=3px thick;
  *    `<table border="N">` with N>0 gives every cell all four thin borders
  *  - rowspan/colspan produce an anchor cell with a merge range; covered
  *    cells stay empty (as the reference's excel path sees merged cells)
  */
object PageParser {

  /** One append-only staging chunk of cell slots (TableBuilder): row/col
    * packed long + the grid's columnar span/pack encoding; `refs` is
    * allocated only when a slot in this chunk actually carries one.
    */
  private final class SlotChunk(cap: Int) {
    val rowcol = new Array[Long](cap)
    val span = new Array[Long](cap)
    val pack = new Array[Int](cap)
    var refs: Array[AnyRef] = null
    var n = 0
  }

  private val MinBlockChars = 10
  private val MaxLinkRatio = 0.5
  // deepest nested-<table> level that gets its own builder/region; deeper
  // structure (adversarial nesting bombs) degrades to text flow — bounds
  // per-page builder memory at MaxTableNesting × builder size
  private val MaxTableNesting = 64

  def parse(html: String): ParsedPage = {
    val st = new State
    HtmlTokenizer.tokenize(html, st: TokSink)
    st.finish()
  }

  private final class State extends TokSink {
    val blocks = Vector.newBuilder[String]
    val regions = Vector.newBuilder[GridRegion]
    var bytesStripped: Long = 0L

    var dropDepth = 0
    var anchorDepth = 0
    var preDepth = 0
    val blockText = new java.lang.StringBuilder
    var blockLinkChars = 0
    val preText = new java.lang.StringBuilder

    var table: TableBuilder = null
    // enclosing builders when tables nest (crawl HTML nests constantly):
    // each nested <table> becomes its OWN region — the web analogue of
    // GridGulp's multiple islands per sheet — instead of its cell text
    // bleeding separator-free into the enclosing cell. Depth is capped so
    // an adversarial page cannot allocate a builder per <table> tag;
    // beyond the cap, structure is ignored and text flows into the
    // innermost tracked cell (the pre-round-3 behavior).
    val tableStack = mutable.ArrayBuffer.empty[TableBuilder]
    var nestedOverflow = 0

    def onStartTag(tag: Int, src: String, nameFrom: Int, attrFrom: Int, attrUntil: Int,
        selfClosing: Boolean): Unit = {
      val flags = Tag.Flags(tag)
      if ((flags & Tag.Dropped) != 0) {
        if (!selfClosing) dropDepth += 1
      } else if (dropDepth > 0) {
        () // inside dropped subtree
      } else if (table != null) {
        if ((flags & Tag.TableStructure) != 0) (tag: @switch) match {
          case Tag.Table =>
            if (nestedOverflow > 0 || tableStack.length >= MaxTableNesting)
              nestedOverflow += 1
            else {
              tableStack += table
              table = new TableBuilder(HtmlTokenizer.attributes(src, attrFrom, attrUntil))
            }
          case Tag.Tr => if (nestedOverflow == 0) table.startRow()
          case Tag.Td | Tag.Th =>
            if (nestedOverflow == 0)
              table.startCell(tag == Tag.Th, HtmlTokenizer.attributes(src, attrFrom, attrUntil))
          case Tag.Caption => if (nestedOverflow == 0) table.startCaption()
          // deliberate asymmetry in the beyond-cap overflow region: nested
          // TEXT still flows into the tracked cell (the documented
          // degraded-structure behavior — content is preserved as plain
          // text), but bold is a STRUCTURAL formatting signal and must not
          // cross the cap into the tracked table's header heuristics
          case Tag.B | Tag.Strong => if (nestedOverflow == 0) table.sawBold()
          case _ => ()
        }
      } else (tag: @switch) match {
        case Tag.Table =>
          flushBlock()
          table = new TableBuilder(HtmlTokenizer.attributes(src, attrFrom, attrUntil))
        case Tag.Pre =>
          flushBlock()
          preDepth += 1
        case Tag.A =>
          if (!selfClosing) anchorDepth += 1
        case Tag.Br =>
          if (preDepth > 0) preText.append('\n') else blockText.append('\n')
        case _ =>
          if ((flags & Tag.Block) != 0) flushBlock()
      }
    }

    def onEndTag(tag: Int, src: String, nameFrom: Int, nameUntil: Int): Unit = {
      val flags = Tag.Flags(tag)
      if ((flags & Tag.Dropped) != 0) {
        if (dropDepth > 0) dropDepth -= 1
      } else if (dropDepth > 0) {
        ()
      } else if (table != null) {
        (tag: @switch) match {
          case Tag.Table =>
            if (nestedOverflow > 0) nestedOverflow -= 1
            else {
              val g = table.build()
              if (g.hasData) regions += GridRegion(g, GridKind.Formatted, "table", table.meta)
              table =
                if (tableStack.nonEmpty) tableStack.remove(tableStack.length - 1)
                else null
            }
          case Tag.Tr => if (nestedOverflow == 0) table.endRow()
          case Tag.Td | Tag.Th => if (nestedOverflow == 0) table.endCell()
          case Tag.Caption => if (nestedOverflow == 0) table.endCaption()
          case _ => ()
        }
      } else (tag: @switch) match {
        case Tag.Pre =>
          if (preDepth > 0) {
            preDepth -= 1
            if (preDepth == 0) finishPre()
          }
        case Tag.A => if (anchorDepth > 0) anchorDepth -= 1
        case _ => if ((flags & Tag.Block) != 0) flushBlock()
      }
    }

    /** Text span of `src`. Only the rare entity-bearing (hasAmp) or
      * dropped-subtree runs materialize a String; everything else appends
      * straight from the source buffer.
      */
    def onText(src: String, from: Int, until: Int, hasAmp: Boolean): Unit = {
      if (dropDepth > 0) {
        if (hasAmp) bytesStripped += utf8Len(HtmlTokenizer.decodeEntities(src, from, until).trim)
        else bytesStripped += utf8LenTrimmed(src, from, until)
      } else if (hasAmp) {
        // decode once, then route the decoded string
        val content = HtmlTokenizer.decodeEntities(src, from, until)
        if (table != null) table.text(content)
        else if (preDepth > 0) preText.append(content)
        else {
          blockText.append(content)
          if (anchorDepth > 0) blockLinkChars += countNonWs(content, 0, content.length)
        }
      } else if (table != null) {
        table.text(src, from, until)
      } else if (preDepth > 0) {
        preText.append(src, from, until)
      } else {
        blockText.append(src, from, until)
        if (anchorDepth > 0) blockLinkChars += countNonWs(src, from, until)
      }
    }

    private def finishPre(): Unit = {
      val raw = preText.toString
      preText.setLength(0)
      DelimitedText.detectFormat(raw) match {
        case Some((delim, _)) =>
          val (g, kind) = DelimitedText.parse(raw, delim)
          if (g.hasData) regions += GridRegion(g, kind, "pre")
          else emitTextBlock(raw, 0)
        case None =>
          emitTextBlock(raw, 0)
      }
    }

    private def flushBlock(): Unit = {
      if (blockText.length > 0) {
        emitTextBlock(blockText.toString, blockLinkChars)
        blockText.setLength(0)
        blockLinkChars = 0
      }
    }

    private def emitTextBlock(raw: String, linkChars: Int): Unit = {
      val norm = normalizeWs(raw)
      if (norm.isEmpty) return
      // link-free blocks (most of them) skip the count: their ratio is 0
      val totalChars = if (linkChars > 0) countNonWs(norm, 0, norm.length) else 0
      val linkRatio = if (totalChars > 0) linkChars.toDouble / totalChars else 0.0
      if (norm.length >= MinBlockChars && linkRatio <= MaxLinkRatio) blocks += norm
      else bytesStripped += utf8Len(norm)
    }

    def finish(): ParsedPage = {
      while (table != null) { // unclosed table(s), innermost first
        val g = table.build()
        if (g.hasData) regions += GridRegion(g, GridKind.Formatted, "table", table.meta)
        table =
          if (tableStack.nonEmpty) tableStack.remove(tableStack.length - 1)
          else null
      }
      if (preDepth > 0) { preDepth = 0; finishPre() }
      flushBlock()
      ParsedPage(blocks.result(), regions.result(), bytesStripped)
    }
  }

  /** `Character.isWhitespace`, answering printable ASCII without the
    * class-table lookup.
    */
  @inline private def isWs(c: Char): Boolean =
    (c <= ' ' || c >= '\u0080') && Character.isWhitespace(c)

  /** Collapse whitespace runs to single spaces, trim. */
  def normalizeWs(s: String): String = {
    // fast path: already normalized (no leading/trailing/double/odd ws)
    var clean = s.nonEmpty && s.charAt(0) != ' ' && s.charAt(s.length - 1) != ' '
    var j = 0
    while (clean && j < s.length) {
      val c = s.charAt(j)
      if (isWs(c) && (c != ' ' || (j + 1 < s.length && s.charAt(j + 1) == ' ')))
        clean = false
      j += 1
    }
    if (clean) return s
    if (s.isEmpty) return s
    val sb = new StringBuilder(s.length)
    var lastWs = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) {
        if (!lastWs) sb.append(' ')
        lastWs = true
      } else {
        sb.append(c)
        lastWs = false
      }
      i += 1
    }
    if (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
    sb.toString
  }

  private def utf8Len(s: String): Long =
    if (s.isEmpty) 0L else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  private def countNonWs(s: CharSequence, from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) {
      if (!isWs(s.charAt(i))) n += 1
      i += 1
    }
    n
  }

  /** UTF-8 byte length of the whitespace-trimmed span — allocation-free
    * equivalent of `utf8Len(src.substring(from, until).trim)` (the encoder
    * emits '?' for unpaired surrogates, i.e. 1 byte).
    */
  private[graft] def utf8LenTrimmed(src: String, from0: Int, until0: Int): Long = {
    var from = from0
    var until = until0
    while (from < until && src.charAt(from) <= ' ') from += 1
    while (until > from && src.charAt(until - 1) <= ' ') until -= 1
    var bytes = 0L
    var i = from
    while (i < until) {
      val c = src.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c) && i + 1 < until &&
        Character.isLowSurrogate(src.charAt(i + 1))) { bytes += 4; i += 1 }
      else if (Character.isSurrogate(c)) bytes += 1 // unpaired -> '?'
      else bytes += 3
      i += 1
    }
    bytes
  }

  /** Max rowspan×colspan shadow slots one cell may claim (DoS clamp). */
  private val MaxShadowArea = 65536

  /** Builds a CellGrid from table markup with rowspan/colspan handling. */
  private final class TableBuilder(tableAttrs: Map[String, String]) {
    // cell SLOTS buffer until build(): the final dimensions are only known
    // at </table>, and a CellGrid declares its bounds before the first
    // write. Slots are the grid's own columnar encoding — the
    // common slim-tier cell stages NO object at all. Staging is CHUNKED
    // (×4-growing chunk sizes, append-only): a doubling parallel-array
    // buffer would re-copy ~2× the slot bytes in growth churn, which is
    // exactly the allocation this path exists to avoid. Refs (converted
    // renders / the rare formatted tier) allocate per chunk only on demand.
    private var chunks: List[PageParser.SlotChunk] = Nil // newest first
    private var cur: PageParser.SlotChunk = null

    private def stage(r: Int, c: Int, span: Long, pack: Int, ref: AnyRef): Unit = {
      if (cur == null || cur.n == cur.rowcol.length) {
        // ×4 growth capped low: chunk waste is only the LAST chunk's unused
        // tail, so a small max chunk bounds it (256 slots ≈ 5 KB) at one
        // chunk per 256 staged cells
        val cap = if (cur == null) 16 else math.min(cur.rowcol.length * 4, 256)
        cur = new PageParser.SlotChunk(cap)
        chunks = cur :: chunks
      }
      val i = cur.n
      cur.rowcol(i) = (r.toLong << 32) | (c & 0xffffffffL)
      cur.span(i) = span
      cur.pack(i) = pack
      if (ref != null) {
        if (cur.refs == null) cur.refs = new Array[AnyRef](cur.rowcol.length)
        cur.refs(i) = ref
      }
      cur.n = i + 1
    }
    private val occupied = new graft.core.grid.LongHashSet(16) // primitive, no boxing
    private var row = -1
    private var col = 0
    private var inCell = false
    // SPAN-BACKED CELLS (round 5): normalized cell text streams into one
    // append-only per-table slab (whitespace collapsed on the fly — the
    // same output normalizeWs(raw) produced) and cells reference
    // [cellStart, len) spans of it; identity-rendered unformatted cells
    // allocate NO per-cell string. The slab outlives the builder via the
    // cells that reference it; append-only growth keeps spans valid.
    private val slab = new graft.core.grid.CharSlab(64)
    private var cellStart = 0
    private var lastWs = true // streaming-normalize state: last emitted/seen ws
    private val inferRes = new graft.core.grid.TypeInfer.Res // per-grid, not per-cell
    private var cellBold = false
    private var cellIsTh = false
    private var cellAttrs: Map[String, String] = Map.empty
    private var inCaption = false
    private val captionText = new java.lang.StringBuilder

    private val tableBorder: Boolean =
      tableAttrs.get("border").exists(b => b.trim.nonEmpty && b.trim != "0")

    @inline private def key(r: Int, c: Int): Long = (r.toLong << 32) | (c & 0xffffffffL)

    def startRow(): Unit = {
      if (inCell) endCell()
      inCaption = false // an unclosed <caption> ends at the first row
      row += 1
      col = 0
    }

    def endRow(): Unit = {
      if (inCell) endCell()
    }

    def startCell(isTh: Boolean, attrs: Map[String, String]): Unit = {
      if (inCell) endCell()
      inCaption = false // an unclosed <caption> ends at the first cell
      if (row < 0) { row = 0; col = 0 } // td without tr
      inCell = true
      cellIsTh = isTh
      cellBold = isTh
      cellAttrs = attrs
      cellStart = slab.length
      lastWs = true // leading whitespace never emits (normalizeWs semantics)
    }

    def sawBold(): Unit = if (inCell) cellBold = true

    def startCaption(): Unit = if (!inCell) inCaption = true
    def endCaption(): Unit = inCaption = false

    /** Streaming normalizeWs into the slab: whitespace runs collapse to one
      * ' ', leading whitespace emits nothing (lastWs starts true), and the
      * possible single trailing space is retracted at endCell — the slab
      * span is exactly normalizeWs(concatenated raw text).
      */
    @inline private def appendNormalized(src: CharSequence, from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val c = src.charAt(i)
        if (isWs(c)) {
          if (!lastWs) slab.append(' ')
          lastWs = true
        } else {
          slab.append(c)
          lastWs = false
        }
        i += 1
      }
    }

    def text(s: String): Unit =
      if (inCell) appendNormalized(s, 0, s.length)
      else if (inCaption) captionText.append(s)

    def text(src: String, from: Int, until: Int): Unit =
      if (inCell) appendNormalized(src, from, until)
      else if (inCaption) captionText.append(src, from, until)

    /** Declared table metadata (caption/summary/id/class) — see RegionMeta. */
    def meta: RegionMeta = RegionMeta(
      caption = normalizeWs(captionText.toString),
      summary = normalizeWs(tableAttrs.getOrElse("summary", "")),
      idAttr = tableAttrs.getOrElse("id", "").trim,
      classAttr = tableAttrs.getOrElse("class", "").trim)

    def endCell(): Unit = {
      if (!inCell) return
      inCell = false
      // advance past cells covered by earlier rowspans
      while (occupied.contains(key(row, col))) col += 1

      // retract the single possible trailing normalized space (normalizeWs
      // drops it); the slab span is then exactly the normalized cell text
      if (slab.length > cellStart && slab.charAt(slab.length - 1) == ' ')
        slab.truncate(slab.length - 1)
      if (cellAttrs.isEmpty) {
        // the bare <td>/<th>: 1×1 and unstyled, so no CSS to parse and no
        // merge shadow to mark
        if (slab.length > cellStart)
          stageCell(cellBold, Css.borders(Css.NoStyle, tableBorder), 1, 1, null, null, null, 0.0)
        col += 1
      } else {
        // clamp spans against hostile pages: colspan at the HTML-spec 1000,
        // rowspan spec limit is 65534 but the eager shadow walk below does
        // rowspan×colspan occupied-set inserts, so bound the PRODUCT at 64k
        // (a crafted rowspan=colspan=2e9 would otherwise hang the parser on
        // one document — crawl input is adversarial by default)
        val colspan = math.min(1000,
          math.max(1, cellAttrs.get("colspan").flatMap(parseIntOpt).getOrElse(1)))
        val rowspan = math.min(math.max(1, MaxShadowArea / colspan),
          math.max(1, cellAttrs.get("rowspan").flatMap(parseIntOpt).getOrElse(1)))
        if (slab.length > cellStart) {
          val style = Css.parse(cellAttrs.getOrElse("style", ""))
          val bold = cellBold || style.get("font-weight").exists(isBoldWeight)
          val align = style.get("text-align").map(_.trim.toLowerCase)
            .orElse(cellAttrs.get("align").map(_.trim.toLowerCase)).orNull
          val bg = style.get("background-color").map(_.trim)
            .orElse(cellAttrs.get("bgcolor").map(_.trim)).orNull
          val fc = style.get("color").map(_.trim).orNull
          val fs = style.get("font-size").flatMap(Css.pxValue).getOrElse(0.0)
          stageCell(bold, Css.borders(style, tableBorder), rowspan, colspan, align, bg, fc, fs)
        }
        // mark covered cells (merge shadows + future rowspan slots)
        var r = row
        while (r < row + rowspan) {
          var c = col
          while (c < col + colspan) {
            if (!(r == row && c == col)) occupied.add(key(r, c))
            c += 1
          }
          r += 1
        }
        col += colspan
      }
    }

    /** Stage the non-empty normalized cell text slab[cellStart, length) at
      * (row, col) with its resolved formatting.
      */
    private def stageCell(bold: Boolean, borders: Array[String], rowspan: Int, colspan: Int,
        align: String, bg: String, fc: String, fs: Double): Unit = {
      val vFrom = cellStart
      val vUntil = slab.length
      val merged = colspan > 1 || rowspan > 1
      val mergeRange =
        if (merged) Span(row, col, row + rowspan - 1, col + colspan - 1).a1 else null
      // the value is normalized (no edge whitespace), so inferSpan's trim
      // is a no-op and identity cells span exactly [vFrom, vUntil)
      graft.core.grid.TypeInfer.inferSpan(slab, vFrom, vUntil, inferRes)
      val dt = inferRes.dt
      val slimTier = align == null && mergeRange == null && fs == 0.0 &&
        fc == null && bg == null
      if (slimTier) {
        val fmtBits = Cell.packBits(bold, merged, borders(0), borders(1),
          borders(2), borders(3))
        val pack = fmtBits | (Cell.dtCode(dt) << 10)
        if (inferRes.identity) {
          val enc = SpanCodec.encodeIdentity(vFrom, vUntil,
            inferRes.vFrom, inferRes.vUntil)
          if (enc != SpanCodec.Invalid) stage(row, col, enc, pack, null)
          else stage(row, col, 0L, 0, // encode overflow: object fallback
            Cell.spanned(slab, vFrom, vUntil, inferRes.vFrom, inferRes.vUntil,
              dt, row, col, fmtBits))
        } else {
          val enc = SpanCodec.encodeRaw(vFrom, vUntil)
          if (enc != SpanCodec.Invalid) stage(row, col, enc, pack, inferRes.py)
          else stage(row, col, 0L, 0,
            Cell.convertedSpan(inferRes.py, slab, vFrom, vUntil, dt, row, col, fmtBits))
        }
      } else {
        val value = slab.str(vFrom, vUntil)
        val py = if (inferRes.identity) value else inferRes.py
        stage(row, col, 0L, 0, Cell.of(py, value, dt, row, col,
          isBold = bold, alignment = align,
          borderTop = borders(0), borderBottom = borders(1),
          borderLeft = borders(2), borderRight = borders(3),
          isMerged = merged, mergeRange = mergeRange,
          fontSize = fs, fontColor = fc, backgroundColor = bg))
      }
    }

    def build(): CellGrid = {
      if (inCell) endCell()
      var mr = 0
      var mc = 0
      // chunks are newest-first; order does not matter for the dim scan,
      // and the fill pass walks them oldest-first to keep put order
      chunks.foreach { ch =>
        var i = 0
        while (i < ch.n) {
          val rc = ch.rowcol(i)
          val r = (rc >> 32).toInt
          val c = rc.toInt
          if (r > mr) mr = r
          if (c > mc) mc = c
          i += 1
        }
      }
      // the exact extent, less the trailing rows beyond MaxGridArea
      val rows = CellGrid.rowsWithin(mr + 1, mc + 1)
      val g = new CellGrid(rows, mc + 1)
      chunks.reverse.foreach { ch =>
        var i = 0
        while (i < ch.n) {
          val rc = ch.rowcol(i)
          val r = (rc >> 32).toInt
          if (r < rows)
            g.putSlot(r, rc.toInt, ch.span(i), ch.pack(i),
              if (ch.refs == null) null else ch.refs(i), slab)
          i += 1
        }
      }
      g
    }

    private def parseIntOpt(s: String): Option[Int] =
      try Some(Integer.parseInt(s.trim)) catch { case _: NumberFormatException => None }

    private def isBoldWeight(w: String): Boolean = {
      val t = w.trim.toLowerCase
      t == "bold" || t == "bolder" || parseIntOpt(t).exists(_ >= 700)
    }
  }

  /** Tiny CSS inline-style parser + the border-width → style-level mapping. */
  object Css {
    def parse(style: String): Map[String, String] = {
      if (style.isEmpty) return Map.empty
      // hand-rolled split on ';' building Map1..MapN directly (the typical
      // 1-3 declaration style stays in the small immutable maps, no array)
      var out: Map[String, String] = Map.empty
      var segStart = 0
      val n = style.length
      var i = 0
      while (i <= n) {
        if (i == n || style.charAt(i) == ';') {
          var colon = -1
          var j = segStart
          while (colon < 0 && j < i) {
            if (style.charAt(j) == ':') colon = j
            j += 1
          }
          if (colon > segStart) {
            var ks = segStart
            var ke = colon
            while (ks < ke && style.charAt(ks).isWhitespace) ks += 1
            while (ke > ks && style.charAt(ke - 1).isWhitespace) ke -= 1
            var vs = colon + 1
            var ve = i
            while (vs < ve && style.charAt(vs).isWhitespace) vs += 1
            while (ve > vs && style.charAt(ve - 1).isWhitespace) ve -= 1
            if (ke > ks)
              out = out.updated(style.substring(ks, ke).toLowerCase, style.substring(vs, ve))
          }
          segStart = i + 1
        }
        i += 1
      }
      out
    }

    val NoStyle: Map[String, String] = Map.empty

    private val NoBorders = new Array[String](4)
    private val ThinBorders = Array("thin", "thin", "thin", "thin")

    /** border level per side: (top, bottom, left, right); null = absent.
      * An unstyled cell returns a shared array (read-only consumers)
      * instead of allocating per cell.
      */
    def borders(style: Map[String, String], tableBorder: Boolean): Array[String] = {
      if (style.isEmpty) return if (tableBorder) ThinBorders else NoBorders
      val out = new Array[String](4)
      if (tableBorder) { out(0) = "thin"; out(1) = "thin"; out(2) = "thin"; out(3) = "thin" }
      style.get("border").foreach { v =>
        val lvl = level(v)
        out(0) = lvl; out(1) = lvl; out(2) = lvl; out(3) = lvl
      }
      style.get("border-top").foreach(v => out(0) = level(v))
      style.get("border-bottom").foreach(v => out(1) = level(v))
      style.get("border-left").foreach(v => out(2) = level(v))
      style.get("border-right").foreach(v => out(3) = level(v))
      out
    }

    /** "2px solid black" → thin/medium/thick; "none"/0 width → null. */
    def level(v: String): String = {
      val t = v.trim.toLowerCase
      if (t == "none" || t.startsWith("none ") || t == "0" || t.startsWith("0px")) return null
      pxValue(t) match {
        case Some(w) =>
          if (w <= 0) null
          else if (w <= 1) "thin"
          else if (w <= 2) "medium"
          else "thick"
        case None => "thin" // e.g. "solid black" with no width
      }
    }

    /** First `<digits>[.<digits>]px` value in the string (case-insensitive),
      * scanning instead of regex — equivalent to the leftmost match of
      * `([0-9]+(\.[0-9]+)?)px`: at each start position the maximal digit
      * run (+ maximal optional fraction) is the only candidate, because any
      * shorter prefix is followed by a digit or '.', never 'p'.
      */
    def pxValue(v: String): Option[Double] = {
      val n = v.length
      var i = 0
      while (i < n) {
        val c = v.charAt(i)
        if (c >= '0' && c <= '9') {
          val start = i
          while (i < n && v.charAt(i) >= '0' && v.charAt(i) <= '9') i += 1
          var end = i
          if (i + 1 < n && v.charAt(i) == '.' && v.charAt(i + 1) >= '0' && v.charAt(i + 1) <= '9') {
            i += 1
            while (i < n && v.charAt(i) >= '0' && v.charAt(i) <= '9') i += 1
            end = i
          }
          if (end + 1 < n &&
              (v.charAt(end) == 'p' || v.charAt(end) == 'P') &&
              (v.charAt(end + 1) == 'x' || v.charAt(end + 1) == 'X')) {
            return Some(java.lang.Double.parseDouble(v.substring(start, end)))
          }
          i = start + 1 // retry at the next position (regex leftmost semantics)
        } else i += 1
      }
      None
    }
  }
}
