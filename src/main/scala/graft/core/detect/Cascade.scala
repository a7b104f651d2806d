package graft.core.detect

import graft.core.grid.{CellGrid, Span, TableHit}

/** Grid kind steers the cascade the way the reference's FileType does
  * (reference: detection.py:64-82): HTML `<table>`-derived grids carry
  * formatting like Excel sheets; delimited/plain-text grids use the stricter
  * text path.
  */
sealed trait GridKind
object GridKind {
  case object Formatted extends GridKind // HTML table: borders/bold available
  case object DelimitedText extends GridKind // <pre>/plain text: TSV/TXT path
  case object Csv extends GridKind // delimited with comma: CSV path
}

final case class DetectionOutcome(tables: Vector[TableHit], methodUsed: String)

/** Confidence-ordered detector cascade (reference: detection.py:84-231). */
object Cascade {

  def detect(g: CellGrid, kind: GridKind, config: DetectConfig = DetectConfig()): DetectionOutcome = {
    val totalSheetCells = g.size
    val isText = kind == GridKind.DelimitedText
    val isTextLike = kind != GridKind.Formatted // TXT/TSV/CSV

    var tables = Vector.empty[TableHit]
    var methodUsed = "none"

    val simple =
      if (config.enableSimpleCase) SimpleCase.detect(g)
      else SimpleResult(isSimpleTable = false, None, 0.0, hasHeaders = true, "disabled")

    // the simple-case hit over simple.span; the method name also prefixes its id
    def simpleHit(method: String): Vector[TableHit] = {
      val span = simple.span.get
      Vector(TableHit(
        id = s"${method}_${span.r0}_${span.c0}",
        span = span,
        confidence = simple.confidence,
        method = method,
        hasHeaders = simple.hasHeaders,
        headers = SimpleCase.extractHeaders(g, span)
      ))
    }

    // ULTRA-FAST path (reference: detection.py:102-121)
    val cellCount = (g.maxRow + 1).toLong * (g.maxCol + 1)
    if (simple.confidence >= 0.89 && cellCount > 10000 && simple.span.isDefined) {
      tables = simpleHit("ultra_fast")
      methodUsed = "ultra_fast"
    } else if (simple.confidence >= 0.95 && simple.span.isDefined) {
      // high-confidence simple case (reference: detection.py:124-138)
      tables = simpleHit("simple_case_fast")
      methodUsed = "simple_case_fast"
    }

    // box tables for formatted grids (reference: detection.py:141-147)
    if (tables.isEmpty && !isTextLike) {
      val boxTables = new BoxTable(config.minTableRows, config.minTableCols).detect(g)
      if (boxTables.nonEmpty) {
        tables = boxTables
        methodUsed = "box_table_detection"
      }
    }

    // island / structured-text detection (reference: detection.py:149-168)
    if (tables.isEmpty) {
      if (isText) {
        tables = StructuredText.detectTables(g)
        methodUsed = "structured_text_detection"
      } else if (config.enableIslandDetection) {
        val detector = new IslandDetector(
          maxGap = IslandConst.ExcelFileMaxGap,
          adaptiveThresholds = config.adaptiveThresholds,
          emptyRowTolerance = config.emptyRowTolerance,
          useFormattingBoundaries = config.useBorderDetection
        )
        val islands = detector.detectIslands(g)
        val good = islands.filter(_.confidence >= config.confidenceThreshold)
        if (good.nonEmpty) {
          tables = detector.toTableHits(good, config.confidenceThreshold, g)
          methodUsed = "island_detection_fast"
        }
      }
    }

    // fallback simple case (reference: detection.py:171-185)
    if (tables.isEmpty && simple.confidence >= config.confidenceThreshold &&
        simple.span.isDefined) {
      tables = simpleHit("simple_case")
      methodUsed = "simple_case"
    }

    // adaptive relative-size filter (reference: detection.py:188-195)
    if (config.adaptiveThresholds && config.minTablePercentage > 0 && totalSheetCells > 0) {
      val minCells = (totalSheetCells * config.minTablePercentage).toInt
      tables = tables.filter(t => tableCellCount(t.span, g) >= minCells)
    }

    // prefer-large sort (reference: detection.py:198-199) — stable, like
    // Python's list.sort
    if (config.preferLargeTables && tables.size > 1)
      tables = tables.sortBy(t => -tableCellCount(t.span, g))

    DetectionOutcome(tables, methodUsed)
  }

  def tableCellCount(span: Span, g: CellGrid): Int =
    g.countIn(span.r0, span.r1, span.c0, span.c1)
}
