package graft.core.detect

import scala.collection.mutable
import graft.core.grid.{CellGrid, Span, TableHit}

/** Detector for structured text (delimited) grids: structural island
  * analysis, plate maps, and wide tables
  * (reference: detectors/structured_text_detector.py).
  */
object StructuredText {

  private val PlateFormats: Seq[(Int, Seq[(Int, Int)])] = Seq(
    6 -> Seq((2, 3), (3, 2)),
    24 -> Seq((4, 6), (6, 4)),
    96 -> Seq((8, 12), (12, 8)),
    384 -> Seq((16, 24), (24, 16)),
    1536 -> Seq((32, 48), (48, 32))
  )

  private val InstrumentKeywords = Seq("sample", "well", "name", "value", "result",
    "concentration", "absorbance", "fluorescence", "mean", "std", "cv", "temperature")

  /** reference: structured_text_detector.py:34-117. */
  def detectTables(g: CellGrid): Vector[TableHit] = {
    if (g == null || !g.hasData) return Vector.empty
    val islands = structuralIslands(g)
    val wideTables = detectWideTables(g)

    val tables = mutable.ArrayBuffer.empty[TableHit]
    val processed = mutable.HashSet.empty[(Int, Int, Int, Int)]

    islands.foreach { island =>
      val rangeKey = (island.minRow, island.maxRow, island.minCol, island.maxCol)
      if (!processed.contains(rangeKey)) {
        checkPlateFormat(g, island) match {
          case Some(plate) =>
            tables += plate
            processed += rangeKey
          case None =>
            val colCount = island.maxCol - island.minCol + 1
            if (colCount < 50) { // wide islands left to the wide-table detector
              IslandDetector.toTableHits(Vector(island), 0.3, g).headOption.foreach { t0 =>
                val t = enhanceMetadata(g, t0)
                tables += t
                processed += rangeKey
              }
            }
        }
      }
    }

    wideTables.foreach { t =>
      val k = (t.span.r0, t.span.r1, t.span.c0, t.span.c1)
      if (!processed.contains(k)) tables += t
    }

    tables.sortBy(t => (t.span.r0, t.span.c0)).toVector
  }

  // ---------- structural island analysis ----------
  // The reference's island detector for text (structured_text_detector.py:23-32)
  // sets use_structural_analysis, which returns before the flood fill:
  // rows are grouped by column pattern, min island size 2.

  private val MinIslandSize = 2

  /** reference: island_detector.py:1357-1398. */
  private def structuralIslands(g: CellGrid): Vector[DataIsland] = {
    val rowGroups = groupRowsByPattern(analyzeRowPatterns(g))

    val totalSheetCells = g.size
    val effectiveMinSize =
      if (totalSheetCells > 1000) math.max(MinIslandSize, (totalSheetCells * 0.005).toInt)
      else MinIslandSize

    val islands = Vector.newBuilder[DataIsland]
    rowGroups.foreach { group =>
      if (group.size >= effectiveMinSize) {
        val island = islandFromRows(g, group)
        if (island != null && island.cells.size >= effectiveMinSize) {
          island.totalSheetCells = totalSheetCells
          island.calculateMetrics(g)
          islands += island
        }
      }
    }
    islands.result().sortBy(i => (i.minRow, i.minCol))
  }

  /** reference: island_detector.py:1400-1427. coordsSorted is (row, col)
    * ascending, so each row's columns arrive contiguously and sorted — the
    * pattern carries them as a sorted primitive array (no boxed sets).
    */
  private def analyzeRowPatterns(g: CellGrid): Vector[(Int, (Int, Int, Array[Int]))] = {
    val cs = g.coordsSorted
    val out = Vector.newBuilder[(Int, (Int, Int, Array[Int]))]
    var i = 0
    while (i < cs.length) {
      val r = IslandDetector.rowOf(cs(i))
      var j = i
      while (j < cs.length && IslandDetector.rowOf(cs(j)) == r) j += 1
      val cols = new Array[Int](j - i)
      var k = i
      while (k < j) { cols(k - i) = IslandDetector.colOf(cs(k)); k += 1 }
      out += ((r, (cols(0), cols(cols.length - 1), cols)))
      i = j
    }
    out.result()
  }

  /** reference: island_detector.py:1429-1498. A row joins the current
    * group when at most one empty row precedes it (empty_row_tolerance)
    * and its column pattern is similar enough; a wider gap always splits,
    * since it exceeds min_empty_rows_to_split as well.
    */
  private def groupRowsByPattern(patterns: Vector[(Int, (Int, Int, Array[Int]))])
      : Vector[Vector[Int]] = {
    if (patterns.isEmpty) return Vector.empty
    val groups = Vector.newBuilder[Vector[Int]]
    var current = Vector.newBuilder[Int]
    current += patterns.head._1
    var prevRow = patterns.head._1
    var prevPattern = patterns.head._2
    patterns.tail.foreach { case (row, pattern) =>
      if (row - prevRow - 1 <= 1 &&
          columnSimilarity(prevPattern, pattern) >= IslandConst.ColumnConsistencyThreshold)
        current += row
      else {
        groups += current.result()
        current = Vector.newBuilder[Int]
        current += row
      }
      prevRow = row
      prevPattern = pattern
    }
    groups += current.result()
    groups.result()
  }

  /** 0.5·range-overlap + 0.5·colset-Jaccard
    * (reference: island_detector.py:1500-1535). Column sets are sorted
    * distinct arrays; the merge walk computes the identical Jaccard.
    */
  private def columnSimilarity(p1: (Int, Int, Array[Int]), p2: (Int, Int, Array[Int])): Double = {
    val (min1, max1, cols1) = p1
    val (min2, max2, cols2) = p2
    val rangeOverlap = math.min(max1, max2) - math.max(min1, min2) + 1
    val rangeUnion = math.max(max1, max2) - math.min(min1, min2) + 1
    if (rangeUnion <= 0) return 0.0
    val rangeSim = rangeOverlap.toDouble / rangeUnion
    val colsSim =
      if (cols1.isEmpty && cols2.isEmpty) 1.0
      else if (cols1.isEmpty || cols2.isEmpty) 0.0
      else {
        var i = 0
        var j = 0
        var inter = 0
        while (i < cols1.length && j < cols2.length) {
          if (cols1(i) == cols2(j)) { inter += 1; i += 1; j += 1 }
          else if (cols1(i) < cols2(j)) i += 1
          else j += 1
        }
        val union = cols1.length + cols2.length - inter
        if (union > 0) inter.toDouble / union else 0.0
      }
    0.5 * rangeSim + 0.5 * colsSim
  }

  private def islandFromRows(g: CellGrid, rows: Vector[Int]): DataIsland = {
    val island = new DataIsland
    val rowSet = rows.toSet
    g.coordsSorted.foreach { k =>
      val r = IslandDetector.rowOf(k)
      if (rowSet.contains(r)) island.addCell(r, IslandDetector.colOf(k))
    }
    if (island.cells.nonEmpty) island else null
  }

  /** reference: structured_text_detector.py:119-193. */
  def checkPlateFormat(g: CellGrid, island: DataIsland): Option[TableHit] = {
    if (island.minRow < 0) return None
    val dataRows = island.maxRow - island.minRow + 1
    val dataCols = island.maxCol - island.minCol + 1
    PlateFormats.foreach { case (wells, dims) =>
      dims.foreach { case (er, ec) =>
        if (dataRows == er + 1 && dataCols == ec + 1 && verifyPlateRowHeaders(g, island, er)) {
          val span = Span(island.minRow, island.minCol, island.maxRow, island.maxCol)
          return Some(TableHit(
            id = s"plate_${wells}well_${island.minRow}_${island.minCol}",
            span = span,
            confidence = 0.95,
            method = "plate_format_detection",
            // reference TableInfo.has_headers defaults True and the plate
            // path never overrides it (table.py:121, structured_text_detector.py:181-191)
            hasHeaders = true,
            headers = Vector.empty,
            meta = Map("plate_format" -> s"$wells-well", "plate_dimensions" -> s"${er}x$ec")
          ))
        }
      }
    }
    None
  }

  /** ≥75 % of A.. row labels (reference: structured_text_detector.py:195-223).
    */
  def verifyPlateRowHeaders(g: CellGrid, island: DataIsland, expectedRows: Int): Boolean = {
    if (island.minRow < 0) return false
    var found = 0
    var i = 0
    while (i < expectedRows) {
      val row = island.minRow + i + 1
      val v = g.valueAt(row, island.minCol) // non-null iff a non-empty cell exists
      if (v != null) {
        val expected = ('A' + i).toChar.toString
        if (v.trim.toUpperCase == expected) found += 1
      }
      i += 1
    }
    found >= expectedRows * 0.75
  }

  /** reference: structured_text_detector.py:225-242 (Column_{i+1} fallback). */
  def extractHeaders(g: CellGrid, span: Span): Vector[String] = {
    (span.c0 to span.c1).map { c =>
      val v = g.valueAt(span.r0, c)
      if (v != null) v else s"Column_${c + 1}"
    }.toVector
  }

  /** reference: structured_text_detector.py:244-288. */
  private def enhanceMetadata(g: CellGrid, t: TableHit): TableHit = {
    val firstRowCells = (t.span.c0 to t.span.c1).flatMap { c =>
      Option(g.valueAt(t.span.r0, c))
    }
    val headerScore = firstRowCells.count(h => InstrumentKeywords.exists(h.toLowerCase.contains))
    var out = t
    if (firstRowCells.nonEmpty && headerScore >= firstRowCells.size * 0.3) {
      out = out.copy(
        hasHeaders = true,
        meta = out.meta + ("instrument_output" -> "true") +
          ("header_keywords" -> headerScore.toString)
      )
    }
    // the reference re-extracts headers (Column_{i+1} fallback) whenever
    // has_headers ends up true (structured_text_detector.py:96-98)
    if (out.hasHeaders) out = out.copy(headers = extractHeaders(g, out.span))
    out
  }

  /** reference: structured_text_detector.py:290-375. */
  def detectWideTables(g: CellGrid): Vector[TableHit] = {
    val tables = Vector.newBuilder[TableHit]
    val maxRow = g.maxRow + 1
    val sheetMaxCol = g.maxCol + 1
    val processedRows = mutable.HashSet.empty[Int]
    var row = 0
    while (row < math.min(10, maxRow)) {
      if (!processedRows.contains(row)) {
        val colsWithData = mutable.ArrayBuffer.empty[Int]
        var c = 0
        while (c < math.min(200, sheetMaxCol)) {
          if (g.contains(row, c)) colsWithData += c
          c += 1
        }
        if (colsWithData.size >= 50) {
          val minCol = colsWithData.min
          val maxCol = colsWithData.max
          var endRow = row
          var nextRow = row + 1
          var stop = false
          while (nextRow < math.min(row + 5, maxRow) && !stop) {
            var nextCount = 0
            var cc = minCol
            while (cc <= maxCol) {
              if (g.contains(nextRow, cc)) nextCount += 1
              cc += 1
            }
            if (nextCount < colsWithData.size * 0.3) stop = true
            else {
              endRow = nextRow
              processedRows += nextRow
              nextRow += 1
            }
          }
          if (maxCol - minCol >= 50) {
            val span = Span(row, minCol, endRow, maxCol)
            val plateFormat = checkWidePlateFormat(g, span)
            tables += TableHit(
              id = s"wide_table_${row}_$minCol",
              span = span,
              confidence = 0.85,
              method = "wide_table_detection",
              hasHeaders = true,
              headers = extractHeaders(g, span),
              meta = Map("table_type" -> "wide_table",
                "width" -> (maxCol - minCol + 1).toString) ++
                plateFormat.map("plate_format" -> _)
            )
          }
        }
      }
      row += 1
    }
    tables.result()
  }

  /** reference: structured_text_detector.py:377-408. */
  def checkWidePlateFormat(g: CellGrid, span: Span): Option[String] = {
    val width = span.colCount
    val height = span.rowCount
    if (width >= 90 && width <= 100 && height >= 1 && height <= 4) {
      var hasColNumbers = 0
      var i = 1
      while (i <= 12) {
        if (g.valueAt(span.r0, span.c0 + i) == i.toString) hasColNumbers += 1
        i += 1
      }
      if (hasColNumbers >= 10) return Some("96-well-plate")
    }
    if (width >= 370 && width <= 400 && height >= 1 && height <= 4) return Some("384-well-plate")
    None
  }
}
