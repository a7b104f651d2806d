package graft.core.grid

/** Cell grid over flat row-major columnar arrays.
  *
  * Ports the reference's sheet model (reference: models/sheet_data.py:
  * 109-325, a sparse dict of cells) with O(1) random access and a
  * deterministic (row, col) iteration order (the reference re-sorts before
  * any order-sensitive step, island_detector.py:658). The bounds are
  * declared before the first write: every parse path knows its extent, and
  * [[CellGrid.MaxGridArea]] caps it. A write outside the bounds throws
  * IllegalArgumentException.
  *
  * Per-cell state lives in parallel primitive arrays instead of Cell
  * objects: one packed span long (Cell's exact span layout, see
  * [[SpanCodec]]), one attribute int (Cell's packed layout plus a PRESENT
  * flag; converted-ness is encoded by the ref slot's type, below), and a
  * lazily-allocated override ref slot —
  *   - `null`  → identity span cell: value = backing[vFrom, vFrom+vLen),
  *     raw widened by the trim fields; NO per-cell object exists;
  *   - String  → the materialized (or converted-render) value; raw still
  *     comes from the span;
  *   - Cell    → a full object cell (formatted tier, encode-overflow
  *     fallback, object puts from tests) — all reads delegate.
  * Parsing a table therefore allocates NOTHING per cell, and the detect
  * kernel reads through [[GridCursor]] / the primitive accessors without
  * materializing. `get` materializes (and caches in the ref slot) a
  * bit-identical [[Cell]] for object-API consumers (the opt-in extraction
  * path, tests), so both APIs observe the same cells.
  */
final class CellGrid(rows: Int, cols: Int) extends Serializable {
  import CellGrid.{Present, LowMask}
  require(rows >= 0 && cols >= 0 && rows.toLong * cols <= CellGrid.MaxGridArea,
    s"grid bounds ${rows}x$cols outside [0, MaxGridArea]")

  private val spans = new Array[Long](rows * cols)
  private val packs = new Array[Int](rows * cols)
  private var refs: Array[AnyRef] = null // lazy: most delimited grids never need it
  // the single shared span backing (StrView | CharSlab) of this grid's
  // span cells; set by the first span put, must be identical (eq) for all
  private var backing: CharSequence = null
  private var _size = 0
  private var _maxRow: Int = 0
  private var _maxCol: Int = 0
  private var coordsCache: Array[Long] = null

  @inline private def key(r: Int, c: Int): Long = (r.toLong << 32) | (c & 0xffffffffL)

  def maxRow: Int = _maxRow
  def maxCol: Int = _maxCol
  def size: Int = _size
  def hasData: Boolean = _size > 0

  /** Declared geometry for detector fast paths: the grid stores only
    * non-empty cells inside [0,height)×[0,width), so [[presentAt]] is a
    * complete membership test over that box.
    */
  private[graft] def width: Int = cols
  private[graft] def height: Int = rows

  /** Slot of (r,c), or -1 outside the declared bounds. */
  @inline private def slotOf(r: Int, c: Int): Int =
    if (r < 0 || c < 0 || r >= rows || c >= cols) -1 else r * cols + c

  /** Slot of (r,c) for a write: outside the declared bounds throws. */
  @inline private def writeSlot(r: Int, c: Int): Int = {
    val i = slotOf(r, c)
    require(i >= 0, s"cell ($r, $c) outside the declared ${rows}x$cols grid bounds")
    i
  }

  @inline private def ensureRef(): Unit =
    if (refs == null) refs = new Array[AnyRef](packs.length)

  /** Materialize the Cell object for columnar slot `i` and cache it there —
    * object-API consumers ([[get]]) see ONE stable Cell per position,
    * bit-identical to what the pre-columnar parse constructed (same span
    * layout, same packed bits, same backing refs).
    */
  private def slotCell(i: Int, r: Int, c: Int): Cell = {
    val p = packs(i)
    val ref = if (refs == null) null else refs(i)
    ref match {
      case cell: Cell => cell
      case s: String =>
        // cached identity value OR converted render; either way _v is the
        // string and _r materializes lazily from the span over the backing
        val cell = new Cell(s, backing, r, c, p & LowMask, spans(i))
        ensureRef()
        refs(i) = cell
        cell
      case _ =>
        val cell = new Cell(backing, backing, r, c, p & LowMask, spans(i))
        ensureRef()
        refs(i) = cell
        cell
    }
  }

  /** Store a cell; empty cells are skipped (reference only stores non-empty,
    * csv_reader.py:248, text_reader.py:337).
    */
  def put(cell: Cell): Unit = {
    if (cell != null && !cell.isEmpty) {
      val i = writeSlot(cell.row, cell.col)
      if ((packs(i) & Present) == 0) _size += 1
      spans(i) = 0L
      packs(i) = (cell.packedBits & LowMask) | Present
      ensureRef()
      refs(i) = cell
      bump(cell.row, cell.col)
    }
  }

  /** Identity span cell write (the columnar analogue of
    * `put(Cell.spanned(...))`, byte-identical semantics): value =
    * `b[vFrom, vUntil)` (already trimmed by the caller), raw =
    * `b[rFrom, rUntil)`. Whitespace-only values are skipped like `put`
    * skips empty cells; encode-overflow and backing mismatch fall back to
    * an object cell transparently.
    */
  private[core] def putSpanned(b: CharSequence, rFrom: Int, rUntil: Int,
      vFrom: Int, vUntil: Int, dataType: String, r: Int, c: Int,
      fmtBits: Int = 0): Unit = {
    if (CellGrid.wsOnly(b, vFrom, vUntil)) return // ≡ put's cell.isEmpty skip
    val i = writeSlot(r, c)
    val span = SpanCodec.encodeIdentity(rFrom, rUntil, vFrom, vUntil)
    if (span != SpanCodec.Invalid && backingOk(b)) {
      if ((packs(i) & Present) == 0) _size += 1
      spans(i) = span
      packs(i) = (fmtBits & LowMask) | (Cell.dtCode(dataType) << 10) | Present
      if (refs != null) refs(i) = null
      bump(r, c)
    } else put(Cell.spanned(b, rFrom, rUntil, vFrom, vUntil, dataType, r, c, fmtBits))
  }

  /** Converted cell write (the columnar `put(Cell.convertedSpan(...))`):
    * value is the materialized render `py` (the ref slot), raw stays
    * span-backed — the slot's span holds the RAW range (trims 0), which is
    * exactly how a Cell materialized from it interprets it.
    */
  private[core] def putConverted(py: String, b: CharSequence, rFrom: Int,
      rUntil: Int, dataType: String, r: Int, c: Int, fmtBits: Int = 0): Unit = {
    if (py == null || CellGrid.wsOnly(py, 0, py.length)) return
    val i = writeSlot(r, c)
    val span = SpanCodec.encodeRaw(rFrom, rUntil)
    if (span != SpanCodec.Invalid && backingOk(b)) {
      if ((packs(i) & Present) == 0) _size += 1
      spans(i) = span
      packs(i) = (fmtBits & LowMask) | (Cell.dtCode(dataType) << 10) | Present
      ensureRef()
      refs(i) = py
      bump(r, c)
    } else put(Cell.convertedSpan(py, b, rFrom, rUntil, dataType, r, c, fmtBits))
  }

  /** Raw slot write from a parse-side buffer (the HTML TableBuilder stages
    * slots before the dimensions are known): a String `ref` is a converted
    * render over a raw span, a Cell `ref` is a full object cell (formatted
    * tier / encode fallback), null is an identity span. Empty-value skips
    * match `put`'s per state.
    */
  private[core] def putSlot(r: Int, c: Int, span: Long, packedBits: Int,
      ref: AnyRef, b: CharSequence): Unit = {
    ref match {
      case cell: Cell => put(cell)
      case _ =>
        val skip = ref match {
          case s: String => CellGrid.wsOnly(s, 0, s.length)
          case _ =>
            CellGrid.wsOnly(b, SpanCodec.vFrom(span), SpanCodec.vUntil(span))
        }
        if (!skip) {
          val i = writeSlot(r, c)
          if (backingOk(b)) {
            if ((packs(i) & Present) == 0) _size += 1
            spans(i) = span
            packs(i) = (packedBits & LowMask) | Present
            if (ref != null) { ensureRef(); refs(i) = ref }
            else if (refs != null) refs(i) = null
            bump(r, c)
          } else put(CellGrid.slotToCell(span, packedBits, ref, b, r, c))
        }
    }
  }

  @inline private def bump(r: Int, c: Int): Unit = {
    if (r > _maxRow) _maxRow = r
    if (c > _maxCol) _maxCol = c
    coordsCache = null
  }

  /** First span put registers the backing; later puts must share it (one
    * document/table → one backing by construction on every parse path).
    */
  @inline private def backingOk(b: CharSequence): Boolean = {
    if (backing == null) { backing = b; true }
    else backing eq b
  }

  def get(r: Int, c: Int): Cell = {
    val i = slotOf(r, c)
    if (i < 0 || (packs(i) & Present) == 0) null else slotCell(i, r, c)
  }

  /** Non-empty cell at (r,c)? Stored cells are never empty (put filters),
    * so this is both the old `get(r,c) != null` and `contains`. A flag
    * test — no object access at all.
    */
  def presentAt(r: Int, c: Int): Boolean = {
    val i = slotOf(r, c)
    i >= 0 && (packs(i) & Present) != 0
  }

  def contains(r: Int, c: Int): Boolean = presentAt(r, c)

  /** The materialized value string at (r,c), or null when absent. Caches
    * the string in the ref slot (NOT a full Cell).
    */
  def valueAt(r: Int, c: Int): String = {
    val i = slotOf(r, c)
    if (i < 0 || (packs(i) & Present) == 0) null else slotValue(i)
  }

  private[grid] def slotValue(i: Int): String = {
    val ref = if (refs == null) null else refs(i)
    ref match {
      case s: String => s
      case cell: Cell => cell.value
      case _ =>
        val sp = spans(i)
        val s = SpanCodec.sub(backing, SpanCodec.vFrom(sp), SpanCodec.vUntil(sp))
        ensureRef()
        refs(i) = s
        s
    }
  }

  /** Append the value at (r,c) to `sb` without materializing anything
    * (absent → no-op) — the serialize phase's per-cell path.
    */
  def appendValueAt(r: Int, c: Int, sb: java.lang.StringBuilder): Unit = {
    val i = slotOf(r, c)
    if (i >= 0 && (packs(i) & Present) != 0) {
      val ref = if (refs == null) null else refs(i)
      ref match {
        case s: String => sb.append(s)
        case cell: Cell => cell.appendValueTo(sb)
        case _ =>
          val sp = spans(i)
          SpanCodec.append(sb, backing, SpanCodec.vFrom(sp), SpanCodec.vUntil(sp))
      }
    }
  }

  /** A reusable flyweight reader over this grid (one per detector pass, not
    * per cell).
    */
  def cursor: GridCursor = new GridCursor(this)

  private[grid] def loadCursor(cur: GridCursor, r: Int, c: Int): Boolean = {
    val i = slotOf(r, c)
    if (i < 0) return false
    val p = packs(i)
    if ((p & Present) == 0) return false
    val ref = if (refs == null) null else refs(i)
    ref match {
      case cell: Cell => cur.loadObj(cell)
      case s: String => cur.loadSlot(p & LowMask, spans(i), s, i)
      case _ => cur.loadSlot(p & LowMask, spans(i), null, i)
    }
    true
  }

  private[grid] def spanBacking: CharSequence = backing

  /** Packed coordinates of all (non-empty) cells, sorted — the kernel's
    * iteration primitive (no Cell objects).
    */
  def coordsSorted: Array[Long] = {
    if (coordsCache == null) {
      val out = new Array[Long](_size)
      val n = packs.length
      var i = 0
      var j = 0
      while (i < n) {
        if ((packs(i) & Present) != 0) {
          val r = i / cols
          out(j) = key(r, i - r * cols)
          j += 1
        }
        i += 1
      }
      coordsCache = out
    }
    coordsCache
  }

  /** Count of non-empty cells inside a closed rectangle. */
  def countIn(r0: Int, r1: Int, c0: Int, c1: Int): Int = {
    val area = (r1 - r0 + 1).toLong * (c1 - c0 + 1)
    if (area > _size.toLong * 2) {
      // sparse: iterate stored coordinates
      var n = 0
      val cs = coordsSorted
      var i = 0
      while (i < cs.length) {
        val k = cs(i)
        val r = (k >> 32).toInt
        val c = k.toInt
        if (r >= r0 && r <= r1 && c >= c0 && c <= c1) n += 1
        i += 1
      }
      n
    } else {
      var n = 0
      var r = r0
      while (r <= r1) {
        var c = c0
        while (c <= c1) { if (presentAt(r, c)) n += 1; c += 1 }
        r += 1
      }
      n
    }
  }

  /** Any non-empty cell in the rectangle? */
  def anyIn(r0: Int, r1: Int, c0: Int, c1: Int): Boolean = {
    var r = r0
    while (r <= r1) {
      var c = c0
      while (c <= c1) { if (presentAt(r, c)) return true; c += 1 }
      r += 1
    }
    false
  }
}

object CellGrid {
  /** Max slots (rows × cols) of one grid: 4M slots hold a table far larger
    * than any real page's, while a hostile one (one row of colspan=1000
    * cells above thousands of one-cell rows) costs at most 48 MB of span
    * and attribute arrays (plus the lazy ref slots) and a bounded
    * detect/serialize walk. A fixed bound like `DetectConfig.MaxHtmlBytes`,
    * not a setting.
    */
  val MaxGridArea: Int = 1 << 22

  /** How many of `rows` rows of width `cols` fit under [[MaxGridArea]]: the
    * parsers drop the trailing rows beyond it (a row wider than the cap
    * alone fits nowhere, so none are kept).
    */
  def rowsWithin(rows: Int, cols: Int): Int =
    if (cols <= 0) rows else math.min(rows, MaxGridArea / cols)

  // columnar slot presence flag (disjoint from Cell's packed layout, bits 0-12)
  private[grid] final val Present = 1 << 30
  private[grid] final val LowMask = (1 << 13) - 1

  /** Rebuild the object Cell a staged slot describes (the backing-mismatch
    * fallback of [[CellGrid.putSlot]]).
    */
  private[core] def slotToCell(span: Long, packedBits: Int, ref: AnyRef,
      b: CharSequence, r: Int, c: Int): Cell = ref match {
    case cell: Cell => cell
    case s: String => new Cell(s, b, r, c, packedBits & LowMask, span)
    case _ => new Cell(b, b, r, c, packedBits & LowMask, span)
  }

  /** Whitespace-only (or empty) range — exactly Cell.isEmpty's predicate. */
  private[core] def wsOnly(cs: CharSequence, from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      if (!Character.isWhitespace(cs.charAt(i))) return false
      i += 1
    }
    true
  }
}

/** Flyweight cell reader: one state load per (row, col) via [[moveTo]], no
  * Cell object on the columnar path. Accessor names and semantics mirror
  * [[Cell]]'s exactly. A loaded position is guaranteed non-empty (the grid
  * never stores empty cells), so `moveTo(r, c)` returning true corresponds
  * to the old `get(r, c) != null` guard — and, for stored cells, to
  * `!valueIsNull` / `!isEmpty` as well.
  *
  * MUTATION INVARIANT: a loaded position reads the state its cell had at
  * [[moveTo]]. The grid's arrays never move (a write outside the declared
  * bounds throws instead), so a put elsewhere leaves a live cursor reading
  * its cell; after overwriting the loaded cell itself, re-position with
  * [[moveTo]]. The kernel never mutates a grid while cursors are live —
  * detect passes are read-only after parse.
  */
final class GridCursor private[grid] (g: CellGrid) {
  private var cObj: Cell = null
  private var packed = 0
  private var span = 0L
  private var sval: String = null
  private var slot = -1

  /** Position on (r, c); false when no cell is stored there. A failed move
    * INVALIDATES the cursor (attribute reads return the borderless/unbold
    * defaults, value reads throw) rather than retaining the previous
    * position's state — so a call site that forgets to check the Boolean
    * cannot silently read the wrong cell.
    */
  def moveTo(r: Int, c: Int): Boolean = {
    val ok = g.loadCursor(this, r, c)
    if (!ok) {
      cObj = null
      sval = null
      slot = -1
      packed = 0
      span = 0L
    }
    ok
  }

  private[grid] def loadObj(cell: Cell): Unit = {
    cObj = cell
    packed = cell.packedBits
    span = 0L
    sval = null
    slot = -1
  }

  private[grid] def loadSlot(p: Int, sp: Long, sv: String, i: Int): Unit = {
    cObj = null
    packed = p
    span = sp
    sval = sv
    slot = i
  }

  @inline def isBold: Boolean = (packed & 1) != 0
  @inline def isMerged: Boolean = (packed & 2) != 0
  @inline def dataTypeCode: Int = (packed >>> 10) & 7
  @inline def dataType: String = Cell.DataTypes(dataTypeCode)
  @inline def hasBorderTop: Boolean = ((packed >>> 2) & 3) != 0
  @inline def hasBorderBottom: Boolean = ((packed >>> 4) & 3) != 0
  @inline def hasBorderLeft: Boolean = ((packed >>> 6) & 3) != 0
  @inline def hasBorderRight: Boolean = ((packed >>> 8) & 3) != 0

  /** top|bottom<<1|left<<2|right<<3 presence nibble (border-signature walk). */
  @inline def borderNibble: Int =
    (if (hasBorderTop) 1 else 0) | (if (hasBorderBottom) 2 else 0) |
      (if (hasBorderLeft) 4 else 0) | (if (hasBorderRight) 8 else 0)

  // rare formatting refs live only on object cells (FormattedCell tier)
  def alignment: String = if (cObj != null) cObj.alignment else null
  def fontSize: Double = if (cObj != null) cObj.fontSize else 0.0
  def fontColor: String = if (cObj != null) cObj.fontColor else null
  def backgroundColor: String = if (cObj != null) cObj.backgroundColor else null

  /** Materialized value (cached in the grid's ref slot on the columnar
    * path — subsequent reads of this position reuse the string).
    */
  def value: String = {
    if (sval != null) sval
    else if (cObj != null) cObj.value
    else {
      if (slot < 0)
        throw new IllegalStateException("cursor is not positioned on a cell")
      val s = g.slotValue(slot)
      sval = s
      s
    }
  }

  def appendValueTo(sb: java.lang.StringBuilder): Unit = {
    if (cObj != null) cObj.appendValueTo(sb)
    else if (sval != null) sb.append(sval)
    else {
      if (slot < 0)
        throw new IllegalStateException("cursor is not positioned on a cell")
      SpanCodec.append(sb, g.spanBacking, SpanCodec.vFrom(span), SpanCodec.vUntil(span))
    }
  }

  /** Cell.valueNonBlank for the loaded position — `value.exists(_ > ' ')`
    * over the backing span, no Cell object, no value String.
    */
  def valueNonBlank: Boolean = {
    if (cObj != null) cObj.valueNonBlank
    else {
      val cs = valueCs
      var i = valueCsFrom
      val n = valueCsUntil
      while (i < n) { if (cs.charAt(i) > ' ') return true; i += 1 }
      false
    }
  }

  /** Value chars + bounds for same-package analyzers (mirrors
    * [[Cell.valueCs]]): String-backed and slot-cached positions expose the
    * string, span slots the shared backing. Only valid on a loaded
    * position (like [[value]]).
    */
  private[core] def valueCs: CharSequence = {
    if (cObj != null) cObj.valueCs
    else if (sval != null) sval
    else {
      if (slot < 0)
        throw new IllegalStateException("cursor is not positioned on a cell")
      g.spanBacking
    }
  }
  private[core] def valueCsFrom: Int = {
    if (cObj != null) cObj.valueCsFrom
    else if (sval != null) 0
    else SpanCodec.vFrom(span)
  }
  private[core] def valueCsUntil: Int = {
    if (cObj != null) cObj.valueCsUntil
    else if (sval != null) sval.length
    else SpanCodec.vUntil(span)
  }
}
