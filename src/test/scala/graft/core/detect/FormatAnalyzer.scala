package graft.core.detect

import scala.collection.mutable
import graft.core.grid.{Cell, CellGrid, Span}

// Test-side port of the reference's semantic format analyzer. No query,
// tool or kernel path reaches it (TableExtractor does its own header scan);
// OperatorGoldenSpec's "structure golden" tests pin it against the
// reference's `structure` section of golden/expected.json.

/** reference: constants.py:230-264 (Keywords). */
object Keywords {
  val Subtotal = Vector("subtotal", "sub-total")
  val GrandTotal = Vector("grand total", "total", "sum")
  val Section = Vector("section", "category", "group")
}

/** Semantic row types (reference: detectors/format_analyzer.py:17-27). */
object RowType {
  val Header = "header"
  val Data = "data"
  val Separator = "separator"
  val Subtotal = "subtotal"
  val Total = "total"
  val SectionHeader = "section_header"
  val Blank = "blank"
}

final case class SemanticRow(rowIndex: Int, rowType: String, confidence: Double)

final case class FormatPattern(
    patternType: String,
    rows: Vector[Int],
    cols: Vector[Int],
    value: Map[String, String],
    confidence: Double
)

final case class TableStructure(
    semanticRows: Vector[SemanticRow],
    sections: Vector[(Int, Int)],
    formatPatterns: Vector[FormatPattern],
    hasSubtotals: Boolean,
    hasGrandTotal: Boolean,
    preserveBlankRows: Vector[Int]
)

/** Semantic format analysis (reference: detectors/format_analyzer.py:119-494).
  */
final class SemanticFormatAnalyzer {
  private val blankRowThreshold = 0.9 // FORMAT_ANALYSIS.BLANK_ROW_THRESHOLD
  private val totalFormattingThreshold = 0.5
  private val consistentColumnThreshold = 0.8
  private val minDataRowsForPattern = 4
  private val maxRowsToSample = 20
  private val firstRowsToCheck = 10
  private val sectionBoundaryMinRows = 2

  private def hasValue(c: Cell): Boolean = !c.valueIsNull && c.value.nonEmpty

  /** reference: format_analyzer.py:128-186. */
  def analyzeTableStructure(g: CellGrid, range: Span, headerRows: Int = 1): TableStructure = {
    require(headerRows >= 0 && headerRows <= range.rowCount, "invalid headerRows")

    val semanticRows = (0 until range.rowCount).map { rowOffset =>
      analyzeRow(g, range.r0 + rowOffset, range, rowOffset < headerRows)
    }.toVector

    val sections = detectSections(semanticRows)
    val patterns = detectFormatPatterns(g, range, semanticRows)
    val preserve = identifySemanticBlanks(semanticRows, sections)
    TableStructure(
      semanticRows = semanticRows,
      sections = sections,
      formatPatterns = patterns,
      hasSubtotals = semanticRows.exists(_.rowType == RowType.Subtotal),
      hasGrandTotal = semanticRows.exists(_.rowType == RowType.Total),
      preserveBlankRows = preserve
    )
  }

  /** reference: format_analyzer.py:188-262. */
  def analyzeRow(g: CellGrid, rowIdx: Int, range: Span, isHeader: Boolean): SemanticRow = {
    val rowOffset = rowIdx - range.r0
    val rowCells: Vector[Cell] =
      (range.c0 to range.c1).map(c => g.get(rowIdx, c)).toVector

    val emptyCount = rowCells.count(c => c == null || c.valueIsNull)
    if (emptyCount.toDouble / rowCells.size >= blankRowThreshold)
      return SemanticRow(rowOffset, RowType.Blank, 1.0)

    if (isHeader) return SemanticRow(rowOffset, RowType.Header, 1.0)

    val rowText = rowCells.iterator
      .filter(c => c != null && hasValue(c))
      .map(_.value.toLowerCase)
      .mkString(" ")

    Keywords.Subtotal.foreach { kw =>
      if (rowText.contains(kw)) return SemanticRow(rowOffset, RowType.Subtotal, 0.9)
    }
    Keywords.GrandTotal.foreach { kw =>
      if (rowText.contains(kw)) {
        // grand total only at the end with total formatting
        // (format_analyzer.py:231-249)
        val isLastDataRow = rowOffset >= range.rowCount - 2
        val strongFormatting = hasTotalFormatting(rowCells.filter(_ != null))
        val isGrand = isLastDataRow && strongFormatting
        return SemanticRow(rowOffset, if (isGrand) RowType.Total else RowType.Subtotal, 0.9)
      }
    }
    if (isSectionHeader(rowCells, rowText))
      return SemanticRow(rowOffset, RowType.SectionHeader, 0.8)
    if (isSeparatorRow(rowCells.filter(_ != null)))
      return SemanticRow(rowOffset, RowType.Separator, 0.85)
    SemanticRow(rowOffset, RowType.Data, 0.7)
  }

  /** reference: format_analyzer.py:264-277 (has_top_border is a dead check
    * in the reference — CellData has no such attribute, so only the bold
    * ratio matters).
    */
  def hasTotalFormatting(rowCells: Seq[Cell]): Boolean = {
    val boldCount = rowCells.count(c => c != null && c.isBold)
    boldCount > rowCells.size * totalFormattingThreshold
  }

  /** reference: format_analyzer.py:279-294. */
  def isSectionHeader(rowCells: Vector[Cell], rowText: String): Boolean = {
    val nonEmpty = rowCells.filter(c => c != null && hasValue(c))
    if (nonEmpty.size == 1 && rowCells.head != null && !rowCells.head.valueIsNull &&
        rowCells.head.value.nonEmpty) {
      val first = rowCells.head
      if (first.isBold || first.backgroundColor != null) return true
    }
    Keywords.Section.exists(rowText.contains)
  }

  /** reference: format_analyzer.py:296-311 (has_bottom_border is likewise a
    * dead hasattr check — only background color counts).
    */
  def isSeparatorRow(rowCells: Seq[Cell]): Boolean = {
    val nonEmpty = rowCells.count(c => c != null && hasValue(c))
    val hasFormatting = rowCells.exists(c => c != null && c.backgroundColor != null)
    nonEmpty <= 1 && hasFormatting
  }

  /** reference: format_analyzer.py:313-337. */
  def detectSections(rows: Vector[SemanticRow]): Vector[(Int, Int)] = {
    val sections = mutable.ArrayBuffer.empty[(Int, Int)]
    var currentStart = -1
    rows.zipWithIndex.foreach { case (row, i) =>
      if (row.rowType == RowType.SectionHeader) {
        if (currentStart >= 0) sections += ((currentStart, i - 1))
        currentStart = i
      } else if (row.rowType == RowType.Blank || row.rowType == RowType.Separator) {
        if (currentStart >= 0 && i > currentStart + sectionBoundaryMinRows - 1) {
          sections += ((currentStart, i - 1))
          currentStart = -1
        }
      }
    }
    if (currentStart >= 0) sections += ((currentStart, rows.size - 1))
    sections.toVector
  }

  /** reference: format_analyzer.py:339-357. */
  def detectFormatPatterns(g: CellGrid, range: Span, rows: Vector[SemanticRow])
      : Vector[FormatPattern] = {
    val out = mutable.ArrayBuffer.empty[FormatPattern]
    detectAlternatingBackgrounds(g, range, rows).foreach(out += _)
    out ++= detectColumnFormatting(g, range, rows)
    out.toVector
  }

  /** reference: format_analyzer.py:359-393. */
  def detectAlternatingBackgrounds(g: CellGrid, range: Span, rows: Vector[SemanticRow])
      : Option[FormatPattern] = {
    val dataRows = rows.filter(_.rowType == RowType.Data)
    if (dataRows.size < minDataRowsForPattern) return None
    val colors = dataRows.take(firstRowsToCheck).map { row =>
      val cell = g.get(range.r0 + row.rowIndex, range.c0)
      if (cell != null) cell.backgroundColor else null
    }
    val distinct = colors.distinct
    if (distinct.size == 2 && !colors.contains(null)) {
      val alternates = colors.indices.dropRight(1).forall(i => colors(i) != colors(i + 1))
      if (alternates) {
        return Some(FormatPattern(
          patternType = "alternating_background",
          rows = dataRows.map(_.rowIndex),
          cols = (0 until range.colCount).toVector,
          value = Map("colors" -> distinct.sorted.mkString(",")),
          confidence = 0.95
        ))
      }
    }
    None
  }

  /** reference: format_analyzer.py:395-449. */
  def detectColumnFormatting(g: CellGrid, range: Span, rows: Vector[SemanticRow])
      : Vector[FormatPattern] = {
    val dataRows = rows.filter(_.rowType == RowType.Data)
    if (dataRows.isEmpty) return Vector.empty
    val patterns = mutable.ArrayBuffer.empty[FormatPattern]
    (0 until range.colCount).foreach { colOffset =>
      val colIdx = range.c0 + colOffset
      val alignments = mutable.ArrayBuffer.empty[String]
      var boldCount = 0
      dataRows.take(maxRowsToSample).foreach { row =>
        val cell = g.get(range.r0 + row.rowIndex, colIdx)
        if (cell != null) {
          if (cell.alignment != null) alignments += cell.alignment
          if (cell.isBold) boldCount += 1
        }
      }
      if (alignments.nonEmpty && alignments.distinct.size == 1) {
        patterns += FormatPattern("column_alignment", dataRows.map(_.rowIndex),
          Vector(colOffset), Map("alignment" -> alignments.head), 0.9)
      }
      if (boldCount > dataRows.size * consistentColumnThreshold) {
        patterns += FormatPattern("column_bold", dataRows.map(_.rowIndex),
          Vector(colOffset), Map("is_bold" -> "true"), 0.85)
      }
    }
    patterns.toVector
  }

  /** reference: format_analyzer.py:451-482. */
  def identifySemanticBlanks(rows: Vector[SemanticRow], sections: Vector[(Int, Int)])
      : Vector[Int] = {
    val preserve = mutable.ArrayBuffer.empty[Int]
    rows.zipWithIndex.foreach { case (row, i) =>
      if (row.rowType == RowType.Blank) {
        val nearSection = sections.exists { case (start, end) => i == end + 1 || i == start - 1 }
        if (nearSection) preserve += row.rowIndex
        else {
          val totalsAdjacent =
            (i > 0 && (rows(i - 1).rowType == RowType.Subtotal ||
              rows(i - 1).rowType == RowType.Total)) ||
            (i < rows.size - 1 && (rows(i + 1).rowType == RowType.Subtotal ||
              rows(i + 1).rowType == RowType.Total))
          if (totalsAdjacent) preserve += row.rowIndex
        }
      }
    }
    preserve.toVector
  }
}
