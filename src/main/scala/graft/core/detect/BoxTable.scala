package graft.core.detect

import graft.core.grid.{CellGrid, GridCursor, Span, TableHit}

/** Detector for fully bordered tables
  * (reference: detectors/box_table_detector.py), at the reference's
  * min_table_size of 2 × 2.
  */
object BoxTable {
  private val MinRows = 2
  private val MinCols = 2
  private val BoxConfidence = 0.95

  /** reference: box_table_detector.py:33-100. */
  def detect(g: CellGrid): Vector[TableHit] = {
    if (!g.hasData) return Vector.empty
    val tables = Vector.newBuilder[TableHit]
    // cells inside an accepted box: a bitset over the used
    // (maxRow+1) × (maxCol+1) box, row-major
    val w = g.maxCol + 1
    val processed = new Array[Long](((g.maxRow + 1) * w + 63) >>> 6)

    val cur = g.cursor
    var row = 0
    while (row <= g.maxRow) {
      var col = 0
      while (col <= g.maxCol) {
        val idx = row * w + col
        if ((processed(idx >>> 6) & (1L << (idx & 63))) == 0L) {
          if (cur.moveTo(row, col) && cur.hasBorderTop && cur.hasBorderLeft) {
            findBoxExtent(g, cur, row, col) match {
              case Some(span) if verifyCompleteBox(g, cur, span) =>
                var r = span.r0
                while (r <= span.r1) {
                  var c = span.c0
                  while (c <= span.c1) {
                    val i = r * w + c
                    processed(i >>> 6) |= 1L << (i & 63)
                    c += 1
                  }
                  r += 1
                }
                val hasHeaders = detectHeaders(g, cur, span)
                tables += TableHit(
                  id = s"box_${span.r0}_${span.c0}",
                  span = span,
                  confidence = BoxConfidence,
                  method = "box_table",
                  hasHeaders = hasHeaders,
                  headers = if (hasHeaders) SimpleCase.extractHeaders(g, span) else Vector.empty,
                  meta = Map("detection_type" -> "complete_borders", "border_type" -> "box")
                )
              case _ => ()
            }
          }
        }
        col += 1
      }
      row += 1
    }
    tables.result()
  }

  /** reference: box_table_detector.py:127-183. */
  private def findBoxExtent(g: CellGrid, cur: GridCursor, startRow: Int,
      startCol: Int): Option[Span] = {
    var endCol = startCol
    var c = startCol + 1
    var stop = false
    while (c <= g.maxCol && !stop) {
      if (!cur.moveTo(startRow, c) || !cur.hasBorderTop) stop = true
      else { endCol = c; c += 1 }
    }
    var endRow = startRow
    var r = startRow + 1
    stop = false
    while (r <= g.maxRow && !stop) {
      if (!cur.moveTo(r, startCol) || !cur.hasBorderLeft) stop = true
      else { endRow = r; r += 1 }
    }
    if (endRow - startRow + 1 < MinRows || endCol - startCol + 1 < MinCols) None
    else Some(Span(startRow, startCol, endRow, endCol))
  }

  /** reference: box_table_detector.py:185-250. */
  private def verifyCompleteBox(g: CellGrid, cur: GridCursor, s: Span): Boolean = {
    var c = s.c0
    while (c <= s.c1) {
      if (!cur.moveTo(s.r0, c) || !cur.hasBorderTop) return false
      if (!cur.moveTo(s.r1, c) || !cur.hasBorderBottom) return false
      c += 1
    }
    var r = s.r0
    while (r <= s.r1) {
      if (!cur.moveTo(r, s.c0) || !cur.hasBorderLeft) return false
      if (!cur.moveTo(r, s.c1) || !cur.hasBorderRight) return false
      r += 1
    }
    val nonEmpty = g.countIn(s.r0, s.r1, s.c0, s.c1)
    nonEmpty.toDouble / s.area >= 0.3
  }

  /** Same header heuristic as SimpleCase
    * (reference: box_table_detector.py:252-305).
    */
  private def detectHeaders(g: CellGrid, cur: GridCursor, s: Span): Boolean = {
    var any = false
    var allStrings = true
    var anyBold = false
    var c = s.c0
    while (c <= s.c1) {
      if (cur.moveTo(s.r0, c)) {
        any = true
        if (cur.dataTypeCode != 1) allStrings = false
        if (cur.isBold) anyBold = true
      }
      c += 1
    }
    if (!any) return false
    var hasDifferentTypes = false
    if (s.r0 + 1 <= s.r1) {
      var c2 = s.c0
      while (c2 <= s.c1 && !hasDifferentTypes) {
        if (cur.moveTo(s.r0 + 1, c2) && cur.dataTypeCode != 1)
          hasDifferentTypes = true
        c2 += 1
      }
    }
    allStrings && (anyBold || hasDifferentTypes)
  }
}
