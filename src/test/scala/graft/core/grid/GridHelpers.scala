package graft.core.grid

/** Grid helpers only the tests use: A1 range parsing for the fixture
  * files, the Cell-object view of a grid in (row, col) order, and the
  * extractor's cell type as the reference's string. The kernel iterates
  * [[CellGrid.coordsSorted]] with a [[GridCursor]] and types cells with
  * [[TypeInfer.extractorTypeCode]].
  */
object GridHelpers {
  def colIndex(letters: String): Int = {
    var c = 0
    letters.foreach { ch => c = c * 26 + (ch.toUpper - 'A' + 1) }
    c - 1
  }

  /** "B3" -> (2, 1), 0-based. */
  def cellToIndices(cell: String): (Int, Int) = {
    val letters = cell.takeWhile(_.isLetter)
    val digits = cell.drop(letters.length)
    (digits.toInt - 1, colIndex(letters))
  }

  /** "A1:C3" -> Span. */
  def parseRange(s: String): Span = {
    val Array(a, b) = s.split(":", 2)
    val (r0, c0) = cellToIndices(a)
    val (r1, c1) = cellToIndices(b)
    Span(r0, c0, r1, c1)
  }

  /** All stored cells, sorted by (row, col). */
  def cellsSorted(g: CellGrid): Array[Cell] =
    g.coordsSorted.map(k => g.get((k >>> 32).toInt, k.toInt))

  private val ExtractorTypes = Array("empty", "numeric", "text", "date", "boolean")

  /** Extractor-side cell typing (reference: dataframe_extractor.py:786-819),
    * indexed by the kernel's `TypeInfer.Et*` codes.
    */
  def extractorType(c: Cell): String =
    if (c == null || c.isEmpty) "empty"
    else c.dataType match {
      case "boolean" => "boolean"
      case "number" => "numeric"
      case _ =>
        ExtractorTypes(TypeInfer.classifyExtractor(c.valueCs, c.valueCsFrom, c.valueCsUntil))
    }
}
