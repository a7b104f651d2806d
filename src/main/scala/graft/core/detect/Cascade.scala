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

/** Confidence-ordered detector cascade (reference: detection.py:84-231),
  * at the reference Config's defaults.
  */
object Cascade {

  /** Islands and the simple-case fallback need this confidence. */
  val ConfidenceThreshold = 0.6
  /** Tables smaller than this share of the grid's cells are dropped. */
  val MinTablePercentage = 0.005

  /** `config` is not read: detection has no per-run setting. The parameter
    * stays because perfbench's `TracedKernel` passes one and compiles
    * against these sources unchanged.
    */
  def detect(g: CellGrid, kind: GridKind, config: DetectConfig = DetectConfig()): DetectionOutcome = {
    val totalSheetCells = g.size
    val isText = kind == GridKind.DelimitedText
    val isTextLike = kind != GridKind.Formatted // TXT/TSV/CSV

    var tables = Vector.empty[TableHit]
    var methodUsed = "none"

    val simple = SimpleCase.detect(g)

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
      val boxTables = BoxTable.detect(g)
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
      } else {
        val good = IslandDetector.detectIslands(g).filter(_.confidence >= ConfidenceThreshold)
        if (good.nonEmpty) {
          tables = IslandDetector.toTableHits(good, ConfidenceThreshold, g)
          methodUsed = "island_detection_fast"
        }
      }
    }

    // fallback simple case (reference: detection.py:171-185)
    if (tables.isEmpty && simple.confidence >= ConfidenceThreshold && simple.span.isDefined) {
      tables = simpleHit("simple_case")
      methodUsed = "simple_case"
    }

    // adaptive relative-size filter (reference: detection.py:188-195)
    if (totalSheetCells > 0) {
      val minCells = (totalSheetCells * MinTablePercentage).toInt
      tables = tables.filter(t => tableCellCount(t.span, g) >= minCells)
    }

    // prefer-large sort (reference: detection.py:198-199) — stable, like
    // Python's list.sort
    if (tables.size > 1)
      tables = tables.sortBy(t => -tableCellCount(t.span, g))

    DetectionOutcome(tables, methodUsed)
  }

  def tableCellCount(span: Span, g: CellGrid): Int =
    g.countIn(span.r0, span.r1, span.c0, span.c1)
}
