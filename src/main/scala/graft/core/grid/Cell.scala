package graft.core.grid

/** One cell of a sparse grid.
  *
  * Mirrors the attribute surface of the reference cell model
  * (reference: src/gridgulp/models/sheet_data.py:24-106) that the detectors
  * consume: value + inferred type, bold/alignment, four border styles, and
  * merge info. `value` is the Python-`str()`-compatible rendering of the
  * converted value (what header extraction sees); `raw` keeps the original
  * source string (the reference's `formatted_value`).
  */
class Cell private[grid] (
    // SPAN-BACKED VALUES (round 5): `_v`/`_r` hold either the materialized
    // String or a shared backing CharSequence (the document text for
    // delimited parses, the per-table CharSlab for HTML) with the actual
    // span packed into `_span`. Identity-rendered cells — plain strings,
    // canonical numbers, dates: the overwhelming majority — allocate NO
    // per-cell string at parse time; `value`/`raw` materialize lazily (and
    // cache) only if something actually reads the String, and the
    // serializer appends straight from the span (appendValueTo). Converted
    // cells (py != source text) store the render in `_v` but still keep
    // `raw` span-backed — raw has no reader in the whole engine, so its
    // String was pure parse-phase waste.
    private var _v: AnyRef,
    private var _r: AnyRef,
    val row: Int,
    val col: Int,
    // closed-domain attributes packed into one int (slab-style compaction:
    // drops 5 object refs + 2 boolean fields per cell on the dense path —
    // the detectors see the same String/Boolean API via the accessors):
    //   bit 0 bold, bit 1 merged, bits 2-3/4-5/6-7/8-9 borders (t/b/l/r),
    //   bits 10-12 dataType
    private val packed: Int,
    // vFrom:26 | vLen:18 | leftTrim:10 | rightTrim:10 — value span is
    // [vFrom, vFrom+vLen) of the backing; raw span widens it by the trim
    // amounts on each side (String.trim semantics). 0 when String-backed.
    private val _span: Long
) extends Serializable {

  private[grid] def this(value: String, raw: String, row: Int, col: Int, packed: Int) =
    this(value, raw, row, col, packed, 0L)

  // rare formatting attributes live only on [[FormattedCell]] (two-tier
  // slab split): the overwhelmingly common unformatted cell — every
  // delimited/text cell and most HTML cells — carries none of the five
  // rare refs, shrinking the per-cell footprint by ~24 B. Construct via
  // Cell.of, which picks the tier.
  def alignment: String = null
  def mergeRange: String = null
  def fontSize: Double = 0.0 // 0.0 == unset
  def fontColor: String = null
  def backgroundColor: String = null

  def this(value: String, raw: String, dataType: String, row: Int, col: Int) =
    this(value, raw, row, col, Cell.dtCode(dataType) << 10, 0L)

  @inline private def vFrom: Int = SpanCodec.vFrom(_span)
  @inline private def vLen: Int = SpanCodec.vLen(_span)
  @inline private def rFrom: Int = vFrom - SpanCodec.lTrim(_span)
  @inline private def rUntil: Int = vFrom + vLen + SpanCodec.rTrim(_span)

  // NOTE: a bare String can never be a backing — `_v match { case s: String }`
  // is the materialized-value discriminator — so document-text backings ride
  // in a [[StrView]] (one wrapper per document, not per cell)
  @inline private def str(cs: CharSequence, a: Int, b: Int): String =
    SpanCodec.sub(cs, a, b)

  /** Python-`str()`-compatible value rendering; materialized lazily (and
    * cached) from the backing span when this cell is span-backed.
    */
  def value: String = _v match {
    case s: String => s
    case null => null
    case cs: CharSequence =>
      val s = str(cs, vFrom, vFrom + vLen)
      _v = s
      s
  }

  /** Original source text (the reference's `formatted_value`). */
  def raw: String = _r match {
    case s: String => s
    case null => null
    case cs: CharSequence =>
      val s = str(cs, rFrom, rUntil)
      _r = s
      s
  }

  /** `value == null` without forcing materialization (the detect-path
    * guards check nullness tens of times per cell).
    */
  @inline def valueIsNull: Boolean = _v == null

  /** `value != null && value.exists(_ > ' ')` — the extractor's blankness
    * predicate (String.trim's char class, NOT Character.isWhitespace) —
    * without materializing span-backed values.
    */
  def valueNonBlank: Boolean = _v match {
    case s: String =>
      var i = 0
      val n = s.length
      while (i < n) { if (s.charAt(i) > ' ') return true; i += 1 }
      false
    case null => false
    case cs: CharSequence =>
      var i = vFrom
      val n = vFrom + vLen
      while (i < n) { if (cs.charAt(i) > ' ') return true; i += 1 }
      false
  }

  /** Value chars + bounds for same-package analyzers that classify the
    * value WITHOUT forcing materialization (String-backed cells expose the
    * string itself — a String is its own CharSequence). `valueCs` is null
    * iff value is null; reads through it never mutate the cell.
    */
  private[core] def valueCs: CharSequence = _v.asInstanceOf[CharSequence]
  private[core] def valueCsFrom: Int = _v match {
    case _: String => 0
    case null => 0
    case _ => vFrom
  }
  private[core] def valueCsUntil: Int = _v match {
    case s: String => s.length
    case null => 0
    case _ => vFrom + vLen
  }

  /** Append the value to `sb` without materializing a per-cell String —
    * the serialize phase writes every cell exactly once, so this is the
    * path that lets span-backed cells stay strings-free end to end.
    */
  def appendValueTo(sb: java.lang.StringBuilder): Unit = _v match {
    case s: String => sb.append(s)
    case null => ()
    case cs: CharSequence => SpanCodec.append(sb, cs, vFrom, vFrom + vLen)
  }

  /** Raw attribute bits (Cell's packed layout) for the columnar grid's
    * uniform cursor reads and slot writes.
    */
  private[grid] def packedBits: Int = packed

  @inline def isBold: Boolean = (packed & 1) != 0
  @inline def isMerged: Boolean = (packed & 2) != 0
  @inline def borderTop: String = Cell.Borders((packed >>> 2) & 3)
  @inline def borderBottom: String = Cell.Borders((packed >>> 4) & 3)
  @inline def borderLeft: String = Cell.Borders((packed >>> 6) & 3)
  @inline def borderRight: String = Cell.Borders((packed >>> 8) & 3)
  @inline def dataType: String = Cell.DataTypes((packed >>> 10) & 7)
  /** Small stable code for dataType (index into Cell.DataTypes) — lets
    * per-column type tallies use a primitive array instead of a boxed map.
    */
  @inline def dataTypeCode: Int = (packed >>> 10) & 7

  /** reference: sheet_data.py:67-70 — empty when value is None or blank.
    * Allocation-free (trim-isEmpty is a kernel hot path; span-backed cells
    * check the backing chars directly).
    */
  def isEmpty: Boolean = _v match {
    case s: String =>
      var i = 0
      val n = s.length
      while (i < n) {
        if (!Character.isWhitespace(s.charAt(i))) return false
        i += 1
      }
      true
    case null => true
    case cs: CharSequence =>
      var i = vFrom
      val n = vFrom + vLen
      while (i < n) {
        if (!Character.isWhitespace(cs.charAt(i))) return false
        i += 1
      }
      true
  }

  @inline def hasBorder(s: String): Boolean = s != null && s != "none"
}

/** The ONE span bit-layout codec (vFrom:26 | vLen:18 | lTrim:10 |
  * rTrim:10) plus the backing-dispatch string helpers, shared by [[Cell]],
  * the columnar [[CellGrid]] slots, and [[GridCursor]] — a layout change
  * lands in exactly one place (hand-rolled copies of the masks drifted
  * across three files before this object existed).
  */
private[graft] object SpanCodec {
  final val MaxFrom = (1 << 26) - 1
  final val MaxLen = (1 << 18) - 1
  final val MaxTrim = (1 << 10) - 1
  final val Invalid = Long.MinValue

  @inline def vFrom(s: Long): Int = (s & 0x3FFFFFFL).toInt
  @inline def vLen(s: Long): Int = ((s >>> 26) & 0x3FFFFL).toInt
  @inline def vUntil(s: Long): Int = vFrom(s) + vLen(s)
  @inline def lTrim(s: Long): Int = ((s >>> 44) & 0x3FFL).toInt
  @inline def rTrim(s: Long): Int = ((s >>> 54) & 0x3FFL).toInt

  /** Encode an identity span, or [[Invalid]] when any field is out of
    * range — including negative offsets/lengths, so a caller bug falls
    * back to the materializing path instead of encoding garbage.
    */
  def encodeIdentity(rFrom: Int, rUntil: Int, vFrom: Int, vUntil: Int): Long = {
    val lT = vFrom - rFrom
    val rT = rUntil - vUntil
    val vL = vUntil - vFrom
    if (vFrom >= 0 && vFrom <= MaxFrom && vL >= 0 && vL <= MaxLen &&
        lT >= 0 && lT <= MaxTrim && rT >= 0 && rT <= MaxTrim)
      vFrom.toLong | (vL.toLong << 26) | (lT.toLong << 44) | (rT.toLong << 54)
    else Invalid
  }

  /** Encode a raw-only span (trims 0), or [[Invalid]]. */
  def encodeRaw(rFrom: Int, rUntil: Int): Long = {
    val rL = rUntil - rFrom
    if (rFrom >= 0 && rFrom <= MaxFrom && rL >= 0 && rL <= MaxLen)
      rFrom.toLong | (rL.toLong << 26)
    else Invalid
  }

  /** Substring of a span backing ([[StrView]] / [[CharSlab]] / other). */
  @inline def sub(cs: CharSequence, a: Int, b: Int): String = cs match {
    case v: StrView => v.s.substring(a, b)
    case sl: CharSlab => sl.str(a, b)
    case other => other.subSequence(a, b).toString
  }

  /** Append backing[a, b) to `sb` (String overload fast path — getChars —
    * for [[StrView]]).
    */
  @inline def append(sb: java.lang.StringBuilder, cs: CharSequence, a: Int, b: Int): Unit =
    cs match {
      case v: StrView => sb.append(v.s, a, b)
      case other => sb.append(other, a, b)
    }
}

/** The rare tier: a cell that actually carries CSS-derived formatting
  * attributes (alignment / merge range / font size / colors). Allocated by
  * [[Cell.of]] only when at least one of them is set.
  */
final class FormattedCell private[grid] (
    value: String, raw: String, row: Int, col: Int, packed: Int,
    override val alignment: String,
    override val mergeRange: String,
    override val fontSize: Double,
    override val fontColor: String,
    override val backgroundColor: String
) extends Cell(value, raw, row, col, packed)

/** A String wrapped as a span backing (one per parsed document, shared by
  * all its cells). Exists because a bare String cannot back spans: the
  * lazy-materialization discriminator is `_v match { case s: String }`.
  */
final class StrView(val s: String) extends CharSequence with Serializable {
  @inline def length: Int = s.length
  @inline def charAt(i: Int): Char = s.charAt(i)
  def subSequence(a: Int, b: Int): CharSequence = s.substring(a, b)
  override def toString: String = s
}

/** Growable append-only char buffer backing span-based cells (the HTML
  * table path appends normalized cell text here instead of allocating a
  * String per cell). Append-only means recorded spans stay valid across
  * growth; cells hold the slab object, not the array.
  */
final class CharSlab(initial: Int = 64) extends CharSequence with Serializable {
  private var buf = new Array[Char](math.max(initial, 16))
  private var n = 0

  @inline def length: Int = n
  @inline def charAt(i: Int): Char = buf(i)

  def append(c: Char): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    buf(n) = c
    n += 1
  }

  /** Retract the write position to `len` (only ever backwards; used to drop
    * a single trailing normalized space at cell end).
    */
  def truncate(len: Int): Unit = { require(len <= n); n = len }

  def str(a: Int, b: Int): String = new String(buf, a, b - a)

  def subSequence(a: Int, b: Int): CharSequence = str(a, b)
  override def toString: String = new String(buf, 0, n)
}

object Cell {
  // border level domain is closed (Css.level: null/thin/medium/thick;
  // "none" behaves as null for hasBorder and is mapped to it)
  private[grid] val Borders = Array[String](null, "thin", "medium", "thick")
  private[grid] def borderCode(s: String): Int = s match {
    case null | "none" => 0
    case "thin" => 1
    case "medium" => 2
    case "thick" => 3
    case _ => 1 // unknown style string: visible border, thin
  }

  // TypeInfer.infer emits exactly these; index 0 covers null/unknown
  private[grid] val DataTypes =
    Array[String](null, "string", "number", "boolean", "date", "datetime", "empty")
  private[core] def dtCode(s: String): Int = s match {
    case null => 0
    case "string" => 1
    case "number" => 2
    case "boolean" => 3
    case "date" => 4
    case "datetime" => 5
    case "empty" => 6
    // the domain is closed (TypeInfer emits exactly the strings above);
    // fail loudly so a typo'd fixture dataType can't round-trip as "string"
    // and mask golden drift
    case other => throw new IllegalArgumentException(s"unknown dataType: '$other'")
  }

  /** Full-attribute factory: picks the slim [[Cell]] tier when none of the
    * five rare formatting refs is set, [[FormattedCell]] otherwise.
    */
  def of(value: String, raw: String, dataType: String, row: Int, col: Int,
      isBold: Boolean = false, alignment: String = null,
      borderTop: String = null, borderBottom: String = null,
      borderLeft: String = null, borderRight: String = null,
      isMerged: Boolean = false, mergeRange: String = null,
      fontSize: Double = 0.0, fontColor: String = null,
      backgroundColor: String = null): Cell = {
    val packed = (if (isBold) 1 else 0) | (if (isMerged) 2 else 0) |
      (borderCode(borderTop) << 2) | (borderCode(borderBottom) << 4) |
      (borderCode(borderLeft) << 6) | (borderCode(borderRight) << 8) |
      (dtCode(dataType) << 10)
    if (alignment == null && mergeRange == null && fontSize == 0.0 &&
        fontColor == null && backgroundColor == null)
      new Cell(value, raw, row, col, packed)
    else
      new FormattedCell(value, raw, row, col, packed,
        alignment, mergeRange, fontSize, fontColor, backgroundColor)
  }

  // span-encoding limits live in [[SpanCodec]]; out-of-range spans (67M+
  // char backing offset, 262k+ char cell, 1k+ char trim run) fall back to
  // materialized strings — correctness never depends on the encoding

  /** Formatting bits for the packed int, for callers that build span cells
    * directly (same layout as [[of]]).
    */
  def packBits(isBold: Boolean, isMerged: Boolean, borderTop: String,
      borderBottom: String, borderLeft: String, borderRight: String): Int =
    (if (isBold) 1 else 0) | (if (isMerged) 2 else 0) |
      (borderCode(borderTop) << 2) | (borderCode(borderBottom) << 4) |
      (borderCode(borderLeft) << 6) | (borderCode(borderRight) << 8)

  @inline private def sub(cs: CharSequence, a: Int, b: Int): String =
    SpanCodec.sub(cs, a, b)

  // a bare String as backing would be indistinguishable from a materialized
  // value (the lazy discriminator is `_v: String`); wrap in StrView
  @inline private def checkBacking(backing: CharSequence): Unit =
    require(!backing.isInstanceOf[String],
      "span backing must not be a bare String — wrap it in StrView")

  /** Identity-rendered cell backed by a span of `backing`: value =
    * backing[vFrom, vUntil) (already trimmed by the caller), raw =
    * backing[rFrom, rUntil). No string is allocated unless someone reads
    * `value`/`raw` as a String.
    */
  def spanned(backing: CharSequence, rFrom: Int, rUntil: Int, vFrom: Int,
      vUntil: Int, dataType: String, row: Int, col: Int, fmtBits: Int = 0): Cell = {
    checkBacking(backing)
    val packed = fmtBits | (dtCode(dataType) << 10)
    val span = SpanCodec.encodeIdentity(rFrom, rUntil, vFrom, vUntil)
    if (span != SpanCodec.Invalid) new Cell(backing, backing, row, col, packed, span)
    else {
      val v = sub(backing, vFrom, vUntil)
      val r = if (rFrom == vFrom && rUntil == vUntil) v else sub(backing, rFrom, rUntil)
      new Cell(v, r, row, col, packed, 0L)
    }
  }

  /** Converted cell (py render != source text): value is the materialized
    * render, raw stays span-backed — `raw` has no reader in the engine, so
    * its string is allocated only on an actual access.
    */
  def convertedSpan(py: String, backing: CharSequence, rFrom: Int, rUntil: Int,
      dataType: String, row: Int, col: Int, fmtBits: Int = 0): Cell = {
    checkBacking(backing)
    val packed = fmtBits | (dtCode(dataType) << 10)
    val span = SpanCodec.encodeRaw(rFrom, rUntil) // trims 0: raw == [vFrom, vFrom+vLen)
    if (span != SpanCodec.Invalid) new Cell(py, backing, row, col, packed, span)
    else new Cell(py, sub(backing, rFrom, rUntil), row, col, packed, 0L)
  }

  /** String cell with no formatting (text-reader path,
    * reference: readers/text_reader.py:339-346).
    */
  def str(v: String, row: Int, col: Int): Cell =
    new Cell(v, v, "string", row, col)

  /** Cell with CSV-style type inference
    * (reference: readers/csv_reader.py:307-369).
    */
  def inferred(v: String, row: Int, col: Int): Cell = {
    val (py, dt) = TypeInfer.infer(v)
    new Cell(py, v, dt, row, col)
  }

  /** Tuple-free variant for the per-row kernel loops: `res` is a
    * caller-owned scratch reused across cells.
    */
  def inferred(v: String, row: Int, col: Int, res: TypeInfer.Res): Cell = {
    TypeInfer.inferInto(v, res)
    new Cell(res.py, v, res.dt, row, col)
  }
}

/** Closed rectangle, 0-based inclusive (reference: models/table.py:8-78). */
final case class Span(r0: Int, c0: Int, r1: Int, c1: Int) {
  def rowCount: Int = r1 - r0 + 1
  def colCount: Int = c1 - c0 + 1
  def area: Long = rowCount.toLong * colCount
  def a1: String = s"${A1.colLetter(c0)}${r0 + 1}:${A1.colLetter(c1)}${r1 + 1}"
  def contains(r: Int, c: Int): Boolean = r >= r0 && r <= r1 && c >= c0 && c <= c1
}

/** A detected table (reference: models/table.py:103-151). */
final case class TableHit(
    id: String,
    span: Span,
    confidence: Double,
    method: String,
    hasHeaders: Boolean,
    headers: Vector[String],
    meta: Map[String, String] = Map.empty
)

/** Excel A1 column letters (reference: utils/excel_utils.py:6-133). */
object A1 {
  def colLetter(col0: Int): String = {
    var c = col0
    val sb = new StringBuilder
    while (c >= 0) {
      sb.insert(0, ('A' + c % 26).toChar)
      c = c / 26 - 1
    }
    sb.toString
  }
}
