package graft.core.detect

import scala.collection.mutable
import graft.core.grid.{CellGrid, GridCursor, LongHashSet, Span, TableHit}

/** A connected region of data (reference: detectors/island_detector.py:22-539).
  */
final class DataIsland extends Serializable {
  val cells: LongHashSet = new LongHashSet()
  var minRow: Int = -1
  var maxRow: Int = -1
  var minCol: Int = -1
  var maxCol: Int = -1
  var density: Double = 0.0
  var hasHeaders: Boolean = false
  var confidence: Double = 0.0
  var borderCellRatio: Double = 0.0
  // metrics are a pure function of (cells/bbox, totalSheetCells,
  // isSubsetOf, the immutable grid) — memoized behind a dirty flag so the
  // detect pipeline's repeated calculateMetrics passes (post-flood,
  // post-merge, final) recompute only for islands that actually changed
  private var metricsClean = false
  private var _totalSheetCells: Int = 0
  private var _isSubsetOf: DataIsland = null

  def totalSheetCells: Int = _totalSheetCells
  def totalSheetCells_=(v: Int): Unit = {
    if (v != _totalSheetCells) metricsClean = false
    _totalSheetCells = v
  }
  def isSubsetOf: DataIsland = _isSubsetOf
  def isSubsetOf_=(v: DataIsland): Unit = {
    if (v ne _isSubsetOf) metricsClean = false
    _isSubsetOf = v
  }

  @inline private def key(r: Int, c: Int): Long = (r.toLong << 32) | (c & 0xffffffffL)

  def addCell(r: Int, c: Int): Unit = {
    metricsClean = false
    cells.add(key(r, c))
    if (minRow < 0 || r < minRow) minRow = r
    if (maxRow < 0 || r > maxRow) maxRow = r
    if (minCol < 0 || c < minCol) minCol = c
    if (maxCol < 0 || c > maxCol) maxCol = c
  }

  def copyShell(): DataIsland = {
    val d = new DataIsland
    d.cells.addAll(cells)
    d.minRow = minRow; d.maxRow = maxRow; d.minCol = minCol; d.maxCol = maxCol
    d.totalSheetCells = totalSheetCells
    d
  }

  def absorb(other: DataIsland): Unit = {
    metricsClean = false
    cells.addAll(other.cells)
    if (other.minRow >= 0) minRow = math.min(minRow, other.minRow)
    if (other.maxRow >= 0) maxRow = math.max(maxRow, other.maxRow)
    if (other.minCol >= 0) minCol = math.min(minCol, other.minCol)
    if (other.maxCol >= 0) maxCol = math.max(maxCol, other.maxCol)
  }

  /** reference: island_detector.py:53-103. */
  def calculateMetrics(g: CellGrid): Unit = {
    if (cells.isEmpty || minRow < 0) return
    if (metricsClean) return
    metricsClean = true
    val total = (maxRow - minRow + 1).toLong * (maxCol - minCol + 1)
    density = if (total > 0) cells.size.toDouble / total else 0.0

    // cursor reads: stored cells are never value-null/empty, so moveTo ≡
    // the old `cell != null && !cell.valueIsNull` guard (dataType codes:
    // 1=string 2=number 5=datetime — Cell.DataTypes order)
    val cur = g.cursor
    var allText = true
    var anyBold = false
    var c = minCol
    while (c <= maxCol) {
      if (cur.moveTo(minRow, c)) {
        if (cur.dataTypeCode != 1) allText = false
        if (cur.isBold) anyBold = true
      } else allText = false
      c += 1
    }
    hasHeaders = allText && anyBold
    if (!hasHeaders && allText && maxRow > minRow) {
      var hasNumeric = false
      var c2 = minCol
      while (c2 <= maxCol && !hasNumeric) {
        if (cur.moveTo(minRow + 1, c2) &&
            (cur.dataTypeCode == 2 || cur.dataTypeCode == 5))
          hasNumeric = true
        c2 += 1
      }
      if (hasNumeric) hasHeaders = true
    }

    borderCellRatio = analyzeBorderCells(g, IslandConst.BorderWidth)
    confidence = calculateConfidence(g)
  }

  /** 7-component weighted confidence (reference: island_detector.py:105-209).
    */
  private def calculateConfidence(g: CellGrid): Double = {
    val cellCount = cells.size
    val relativeSize = if (totalSheetCells > 0) cellCount.toDouble / totalSheetCells else 0.0

    var sizeScore = 0.5
    if (relativeSize >= IslandConst.RelativeSizeLarge) sizeScore = 1.0
    else if (relativeSize >= IslandConst.RelativeSizeMedium) sizeScore = 0.8
    else if (relativeSize >= IslandConst.RelativeSizeSmall) sizeScore = 0.6
    else if (relativeSize < IslandConst.RelativeSizeTiny) sizeScore = 0.2
    if (cellCount >= IslandConst.MinCellsGood) sizeScore = math.min(1.0, sizeScore + 0.1)
    else if (cellCount < IslandConst.MinCellsSmall) sizeScore = math.max(0.0, sizeScore - 0.2)

    var densityScore = 0.5
    if (density > IslandConst.DensityHigh) densityScore = 1.0
    else if (density > IslandConst.DensityMedium) densityScore = 0.7
    else if (density < IslandConst.DensityLow) densityScore = 0.3

    var shapeScore = 0.5
    if (minRow >= 0) {
      val height = maxRow - minRow + 1
      val width = maxCol - minCol + 1
      if (height > 0) {
        val ar = width.toDouble / height
        if (ar >= IslandConst.AspectRatioMin && ar <= IslandConst.AspectRatioMax) shapeScore = 0.9
        else if (ar < 0.05 || ar > 20) shapeScore = 0.2
      }
    }

    val headerScore = if (hasHeaders) 0.8 else 0.4

    var borderScore = 1.0
    if (borderCellRatio > IslandConst.BorderCellThreshold) {
      borderScore = 0.5
      if (borderCellRatio > 0.5) borderScore = 0.2
    }

    val formattingScore = calcFormattingScore(g)
    val isolationScore = if (isSubsetOf != null) 0.2 else 1.0

    // same accumulation order as the Python dict iteration (insertion order)
    var totalScore = 0.0
    var totalWeight = 0.0
    def add(s: Double, w: Double): Unit = { totalScore += s * w; totalWeight += w }
    add(sizeScore, 0.20); add(densityScore, 0.15); add(shapeScore, 0.10)
    add(headerScore, 0.15); add(borderScore, 0.15); add(formattingScore, 0.15)
    add(isolationScore, 0.10)
    val conf = if (totalWeight > 0) totalScore / totalWeight else IslandConst.BaseConfidence
    math.min(math.max(conf, 0.0), 1.0)
  }

  /** reference: island_detector.py:211-253. */
  private def calcFormattingScore(g: CellGrid): Double = {
    if (minRow < 0) return 0.5
    val s1 = analyzeBorderConsistency(g)
    val s2 = analyzeColumnTypeConsistency(g)
    val s3 = analyzeAlignmentPatterns(g)
    val s4 = analyzeFormatUniformity(g)
    (s1 + s2 + s3 + s4) / 4.0
  }

  /** reference: island_detector.py:255-297. The 16 possible border
    * signatures tally into a primitive array (was a boxed HashMap per
    * island).
    */
  private def analyzeBorderConsistency(g: CellGrid): Double = {
    val patterns = new Array[Int](16)
    val cur = g.cursor
    var total = 0
    var r = minRow
    while (r <= maxRow) {
      var c = minCol
      while (c <= maxCol) {
        if (cur.moveTo(r, c)) {
          total += 1
          patterns(cur.borderNibble) += 1
        }
        c += 1
      }
      r += 1
    }
    if (total == 0) return 0.5
    var mostCommon = 0
    var hasBorders = false
    var i = 0
    while (i < 16) {
      if (patterns(i) > mostCommon) mostCommon = patterns(i)
      if (i != 0 && patterns(i) > 0) hasBorders = true
      i += 1
    }
    var consistency = mostCommon.toDouble / total
    if (hasBorders) consistency = math.min(1.0, consistency + 0.1)
    consistency
  }

  /** reference: island_detector.py:299-334. Type tallies per column use a
    * primitive array indexed by Cell.dataTypeCode (was a boxed HashMap per
    * column per island).
    */
  private def analyzeColumnTypeConsistency(g: CellGrid): Double = {
    var sum = 0.0
    var n = 0
    val startRow = if (hasHeaders) minRow + 1 else minRow
    val counts = new Array[Int](8) // reused across columns
    val cur = g.cursor
    var c = minCol
    while (c <= maxCol) {
      java.util.Arrays.fill(counts, 0)
      var total = 0
      var r = startRow
      while (r <= maxRow) {
        if (cur.moveTo(r, c)) {
          total += 1
          counts(cur.dataTypeCode) += 1
        }
        r += 1
      }
      if (total > 0) {
        var mx = 0
        var i = 0
        while (i < 8) { if (counts(i) > mx) mx = counts(i); i += 1 }
        sum += mx.toDouble / total
        n += 1
      }
      c += 1
    }
    if (n > 0) sum / n else 0.5
  }

  /** reference: island_detector.py:336-373. */
  private def analyzeAlignmentPatterns(g: CellGrid): Double = {
    var correct = 0
    var total = 0
    val cur = g.cursor
    var r = minRow
    while (r <= maxRow) {
      var c = minCol
      while (c <= maxCol) {
        if (cur.moveTo(r, c)) {
          val al = cur.alignment
          if (al != null) {
            total += 1
            val dtc = cur.dataTypeCode
            val ok = (dtc == 2 && al == "right") ||
              (dtc == 1 && (al == "left" || al == "center")) ||
              (dtc == 5 && (al == "left" || al == "center"))
            if (ok) correct += 1
          }
        }
        c += 1
      }
      r += 1
    }
    if (total == 0) 0.7 else correct.toDouble / total
  }

  /** reference: island_detector.py:375-451. Only DISTINCT COUNTS up to 3
    * feed the scoring, so three capped two-slot counters replace the boxed
    * HashSets (allocation-free, exact for the 0/1/2/3+ buckets used).
    */
  private def analyzeFormatUniformity(g: CellGrid): Double = {
    var fs1 = 0.0; var fs2 = 0.0; var fsN = 0 // distinct font sizes, capped at 3
    var fc1: String = null; var fc2: String = null; var fcN = 0
    var bg1: String = null; var bg2: String = null; var bgN = 0
    var boldCount = 0
    var total = 0
    val startRow = if (hasHeaders) minRow + 1 else minRow
    val cur = g.cursor
    var r = startRow
    while (r <= maxRow) {
      var c = minCol
      while (c <= maxCol) {
        if (cur.moveTo(r, c)) {
          total += 1
          val v = cur.fontSize
          if (v > 0.0 && fsN < 3) {
            if (fsN == 0) { fs1 = v; fsN = 1 }
            else if (v != fs1 && fsN == 1) { fs2 = v; fsN = 2 }
            else if (v != fs1 && v != fs2) fsN = 3
          }
          val fc = cur.fontColor
          if (fc != null && fcN < 3) {
            if (fcN == 0) { fc1 = fc; fcN = 1 }
            else if (fc != fc1 && fcN == 1) { fc2 = fc; fcN = 2 }
            else if (fc != fc1 && fc != fc2) fcN = 3
          }
          val bg = cur.backgroundColor
          if (bg != null && bgN < 3) {
            if (bgN == 0) { bg1 = bg; bgN = 1 }
            else if (bg != bg1 && bgN == 1) { bg2 = bg; bgN = 2 }
            else if (bg != bg1 && bg != bg2) bgN = 3
          }
          if (cur.isBold) boldCount += 1
        }
        c += 1
      }
      r += 1
    }
    if (total == 0) return 0.5
    var sum = 0.0
    sum += (if (fsN <= 1) 1.0 else if (fsN == 2) 0.8 else 0.5)
    sum += (if (fcN <= 1) 1.0 else if (fcN <= 2) 0.7 else 0.4)
    sum += (if (bgN == 0) 0.9 else if (bgN == 1) 1.0 else 0.5)
    val boldRatio = boldCount.toDouble / total
    sum += (if (boldRatio == 0.0 || boldRatio == 1.0) 1.0
            else if (boldRatio < 0.1 || boldRatio > 0.9) 0.8
            else 0.5)
    sum / 4.0
  }

  /** Populated ratio of the frame around the island
    * (reference: island_detector.py:453-526).
    */
  private def analyzeBorderCells(g: CellGrid, borderWidth: Int): Double = {
    if (minRow < 0) return 0.0
    val bMinRow = math.max(0, minRow - borderWidth)
    val bMaxRow = math.min(g.maxRow, maxRow + borderWidth)
    val bMinCol = math.max(0, minCol - borderWidth)
    val bMaxCol = math.min(g.maxCol, maxCol + borderWidth)
    var borderCells = 0
    var populated = 0
    def check(r: Int, c: Int): Unit = {
      borderCells += 1
      if (g.contains(r, c)) populated += 1
    }
    var r = bMinRow
    while (r < minRow) { var c = bMinCol; while (c <= bMaxCol) { check(r, c); c += 1 }; r += 1 }
    r = maxRow + 1
    while (r <= bMaxRow) { var c = bMinCol; while (c <= bMaxCol) { check(r, c); c += 1 }; r += 1 }
    r = minRow
    while (r <= maxRow) {
      var c = bMinCol
      while (c < minCol) { check(r, c); c += 1 }
      c = maxCol + 1
      while (c <= bMaxCol) { check(r, c); c += 1 }
      r += 1
    }
    if (borderCells > 0) populated.toDouble / borderCells else 0.0
  }
}

/** Connected-component table detection on formatted grids
  * (reference: detectors/island_detector.py:542-2223) with the settings
  * the cascade gives it: 8-neighbour flood fill at gap 1, islands of at
  * least 4 cells (more on large grids: adaptive thresholds),
  * formatting-boundary splits, and reconnection across a one-row gap.
  * Stateless, so the cascade allocates no detector per grid.
  */
object IslandDetector {

  private val MinIslandSize = 4

  @inline private[detect] def rowOf(k: Long): Int = (k >> 32).toInt
  @inline private[detect] def colOf(k: Long): Int = k.toInt

  /** reference: island_detector.py:594-732. */
  def detectIslands(g: CellGrid): Vector[DataIsland] = {
    if (!g.hasData) return Vector.empty

    val totalSheetCells = g.size
    val effectiveMinSize =
      if (totalSheetCells > 10000) math.max(20, (totalSheetCells * 0.001).toInt)
      else if (totalSheetCells > 1000) math.max(10, (totalSheetCells * 0.005).toInt)
      else MinIslandSize

    val cs = g.coordsSorted // cached on the grid — no per-detect coord array
    var islands = Vector.newBuilder[DataIsland]
    // the grid itself is the data-cell membership test, and a bitset over
    // the USED rows (data exists only in [0, maxRow]) with the grid width
    // as the row stride is the visited set: declared-but-empty tail rows
    // cost nothing
    val w = g.width
    val h = g.maxRow + 1
    val visited = new Array[Long]((h * w + 63) >>> 6)
    var i = 0
    while (i < cs.length) {
      val r = rowOf(cs(i))
      val c = colOf(cs(i))
      val idx = r * w + c
      if ((visited(idx >>> 6) & (1L << (idx & 63))) == 0L) {
        val island = floodFill(r, c, g, w, h, visited)
        if (island.cells.size >= effectiveMinSize) {
          island.totalSheetCells = totalSheetCells
          island.calculateMetrics(g)
          islands += island
        }
      }
      i += 1
    }
    var out = islands.result().sortBy(isl => (-isl.cells.size, isl.minRow, isl.minCol))

    val originalCount = out.size
    out = applyFormattingSplits(out, g)
    val formattingSplitsApplied = out.size > originalCount

    if (out.size > 1)
      out = reconnectGapSeparated(out, g)

    if (out.size > 1) {
      val wellSeparated = areWellSeparated(out, g)
      val sheetDensity = g.size.toDouble / ((g.maxRow + 1).toLong * (g.maxCol + 1))
      val mergeDistance =
        if (wellSeparated) 0
        else if (formattingSplitsApplied) 1
        else if (sheetDensity < 0.3) 5
        else if (sheetDensity < 0.6) 3
        else 2
      if (mergeDistance > 0) {
        out = mergeNearby(out, mergeDistance, g)
        out.foreach { isl =>
          isl.totalSheetCells = totalSheetCells
          isl.calculateMetrics(g)
        }
      }
    }

    if (out.size > 1) checkSubsets(out)
    out.foreach(_.calculateMetrics(g))
    out
  }

  /** Flood fill over the 8-connected component of (startR, startC)
    * (reference: island_detector.py:734-844 — BFS there; traversal order
    * does not affect island content, a set + bbox). Membership is the
    * grid's presence flag and `visited` a bitset over the h×w box; a
    * primitive stack avoids boxing.
    */
  private def floodFill(startR: Int, startC: Int, g: CellGrid, w: Int, h: Int,
      visited: Array[Long]): DataIsland = {
    val island = new DataIsland
    var stack = new Array[Int](64)
    var top = 0
    stack(top) = startR * w + startC
    top += 1
    val si = startR * w + startC
    visited(si >>> 6) |= 1L << (si & 63)
    while (top > 0) {
      top -= 1
      val idx = stack(top)
      val r = idx / w
      val c = idx - r * w
      island.addCell(r, c)
      var dr = -1
      while (dr <= 1) {
        var dc = -1
        while (dc <= 1) {
          if (!(dr == 0 && dc == 0)) {
            val nr = r + dr
            val nc = c + dc
            if (nr >= 0 && nc >= 0 && nr < h && nc < w) {
              val ni = nr * w + nc
              if ((visited(ni >>> 6) & (1L << (ni & 63))) == 0L && g.presentAt(nr, nc)) {
                visited(ni >>> 6) |= 1L << (ni & 63)
                if (top == stack.length) stack = java.util.Arrays.copyOf(stack, top * 2)
                stack(top) = ni
                top += 1
              }
            }
          }
          dc += 1
        }
        dr += 1
      }
    }
    island
  }

  /** reference: island_detector.py:846-915. */
  private def mergeNearby(islands: Vector[DataIsland], mergeDistance: Int, g: CellGrid)
      : Vector[DataIsland] = {
    if (islands.size <= 1) return islands
    val merged = Vector.newBuilder[DataIsland]
    val used = new Array[Boolean](islands.size)
    var i = 0
    while (i < islands.size) {
      if (!used(i)) {
        val island1 = islands(i)
        // copy-on-first-merge: until something is absorbed, the accumulator
        // IS island1 (identical bbox/cells, so gapIsEmpty is unaffected) —
        // the common no-merge island keeps its cell set AND its memoized
        // metrics instead of paying a copy + full recompute
        var acc = island1
        var j = i + 1
        while (j < islands.size) {
          if (!used(j)) {
            val island2 = islands(j)
            var shouldMerge = shouldMergePair(island1, island2, mergeDistance)
            if (shouldMerge) shouldMerge = gapIsEmpty(acc, island2, g)
            if (shouldMerge) {
              if (acc eq island1) acc = island1.copyShell()
              acc.absorb(island2)
              used(j) = true
            }
          }
          j += 1
        }
        acc.calculateMetrics(g)
        merged += acc
        used(i) = true
      }
      i += 1
    }
    merged.result()
  }

  /** reference: island_detector.py:917-977. */
  private def areWellSeparated(islands: Vector[DataIsland], g: CellGrid): Boolean = {
    if (islands.size <= 1) return false
    val sorted = islands.sortBy(i => (math.max(i.minRow, 0), math.max(i.minCol, 0)))
    var i = 0
    while (i < sorted.size - 1) {
      val a = sorted(i)
      val b = sorted(i + 1)
      if (a.maxRow >= 0 && b.minRow >= 0) {
        if (b.minRow > a.maxRow + 1) {
          val gapStart = a.maxRow + 1
          val gapEnd = b.minRow - 1
          val c0 = math.min(math.max(a.minCol, 0), math.max(b.minCol, 0))
          val c1 = math.max(math.max(a.maxCol, 0), math.max(b.maxCol, 0))
          if (g.anyIn(gapStart, gapEnd, c0, c1)) return false
        } else return false
      }
      i += 1
    }
    true
  }

  /** reference: island_detector.py:979-1082. */
  private def shouldMergePair(a: DataIsland, b: DataIsland, maxDistance: Int): Boolean = {
    if (a.minRow < 0 || b.minRow < 0) return false
    val vDist = math.max(0, math.max(b.minRow - a.maxRow - 1, a.minRow - b.maxRow - 1))
    val hDist = math.max(0, math.max(b.minCol - a.maxCol - 1, a.minCol - b.maxCol - 1))
    if (hDist > 0) {
      if (hDist >= 2) return false
      val overlapStart = math.max(a.minRow, b.minRow)
      val overlapEnd = math.min(a.maxRow, b.maxRow)
      if (overlapStart <= overlapEnd) {
        val overlapRows = overlapEnd - overlapStart + 1
        val minRows = math.min(a.maxRow - a.minRow + 1, b.maxRow - b.minRow + 1)
        val ratio = if (minRows > 0) overlapRows.toDouble / minRows else 0.0
        if (ratio < 0.5) return false
      }
    }
    if (vDist == 0 && hDist <= maxDistance) return true
    if (hDist == 0 && vDist <= maxDistance) return true
    vDist <= maxDistance && hDist <= maxDistance
  }

  /** reference: island_detector.py:1084-1176. */
  private def gapIsEmpty(a: DataIsland, b: DataIsland, g: CellGrid): Boolean = {
    if (a.minRow < 0 || b.minRow < 0) return true
    var gapColStart = -1
    var gapColEnd = -1
    var gapRowStart = 0
    var gapRowEnd = -1
    if (a.maxCol < b.minCol) {
      gapColStart = a.maxCol + 1; gapColEnd = b.minCol - 1
      gapRowStart = math.max(a.minRow, b.minRow); gapRowEnd = math.min(a.maxRow, b.maxRow)
    } else if (b.maxCol < a.minCol) {
      gapColStart = b.maxCol + 1; gapColEnd = a.minCol - 1
      gapRowStart = math.max(a.minRow, b.minRow); gapRowEnd = math.min(a.maxRow, b.maxRow)
    }
    if (a.maxRow < b.minRow) {
      gapRowStart = a.maxRow + 1; gapRowEnd = b.minRow - 1
      gapColStart = math.max(a.minCol, b.minCol); gapColEnd = math.min(a.maxCol, b.maxCol)
    } else if (b.maxRow < a.minRow) {
      gapRowStart = b.maxRow + 1; gapRowEnd = a.minRow - 1
      gapColStart = math.max(a.minCol, b.minCol); gapColEnd = math.min(a.maxCol, b.maxCol)
    }
    if (gapColStart >= 0 && gapColEnd >= gapColStart && gapRowEnd >= gapRowStart) {
      if (g.anyIn(gapRowStart, gapRowEnd, gapColStart, gapColEnd)) return false
    }
    true
  }

  /** reference: island_detector.py:1559-1620. */
  private def checkSubsets(islands: Vector[DataIsland]): Unit = {
    var i = 0
    while (i < islands.size) {
      val smaller = islands(i)
      if (smaller.isSubsetOf == null) {
        var j = 0
        var break = false
        while (j < i && !break) {
          val larger = islands(j)
          if (isSubset(smaller, larger)) {
            smaller.isSubsetOf = larger
            break = true
          }
          j += 1
        }
      }
      i += 1
    }
  }

  private def isSubset(a: DataIsland, b: DataIsland): Boolean = {
    if (a.minRow < 0 || b.minRow < 0) return false
    if (!(b.minRow <= a.minRow && a.maxRow <= b.maxRow &&
        b.minCol <= a.minCol && a.maxCol <= b.maxCol)) return false
    a.cells.subsetOf(b.cells)
  }

  // ---------- formatting-based splitting ----------

  /** Mutable per-row formatting summary: the boundary walk is a two-row
    * sliding window, so two reusable holders replace a RowFmt allocation
    * per row (the fields are written whole on every analyze call).
    */
  private final class RowFmt {
    var hasData: Boolean = false
    var boldRatio: Double = 0.0
    var bgColors: Set[String] = Set.empty
    var fontColors: Set[String] = Set.empty
    var isLikelyHeader: Boolean = false
    var consistency: Double = 0.0
    var borderSignature: String = FmtConst.NoBorders
    var cellCount: Int = 0

    def set(hasData: Boolean, boldRatio: Double, bgColors: Set[String],
        fontColors: Set[String], isLikelyHeader: Boolean, consistency: Double,
        borderSignature: String, cellCount: Int): RowFmt = {
      this.hasData = hasData; this.boldRatio = boldRatio
      this.bgColors = bgColors; this.fontColors = fontColors
      this.isLikelyHeader = isLikelyHeader; this.consistency = consistency
      this.borderSignature = borderSignature; this.cellCount = cellCount
      this
    }
  }

  /** Reusable border-nibble row buffer for the boundary walk (top=1,
    * bottom=2, left=4, right=8 per non-empty cell, in column order).
    */
  private final class NibBuf {
    var a = new Array[Int](32)
    var n = 0
    def clear(): Unit = n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v
      n += 1
    }
  }

  /** reference: island_detector.py:1622-1694. Single cursor pass per row —
    * no Cell objects; the border signature consumes the nibble buffer.
    */
  private def analyzeRowFormatting(g: CellGrid, row: Int, cur: GridCursor,
      nibs: NibBuf, out: RowFmt): RowFmt = {
    nibs.clear()
    var cellCount = 0
    var boldCount = 0
    // build the color sets with a plain loop: the dominant unstyled row
    // allocates NOTHING (Set.empty is shared), a single-color row allocates
    // one Set1 — the iterator.map.filter.toSet chain cost 5+ objects per
    // row on this per-row hot path
    var bgColors: Set[String] = Set.empty
    var fontColors: Set[String] = Set.empty
    var c = 0
    while (c <= g.maxCol) {
      if (cur.moveTo(row, c)) {
        cellCount += 1
        if (cur.isBold) boldCount += 1
        val bg = cur.backgroundColor
        if (bg != null) bgColors += bg
        val fc = cur.fontColor
        if (fc != null) fontColors += fc
        nibs.add(cur.borderNibble)
      }
      c += 1
    }
    if (cellCount == 0)
      return out.set(hasData = false, 0.0, Set.empty, Set.empty, isLikelyHeader = false, 0.0,
        FmtConst.NoBorders, 0)

    val boldRatio = boldCount.toDouble / cellCount
    val isLikelyHeader = boldRatio >= FmtConst.HeaderBoldThreshold ||
      (bgColors.size == 1 && cellCount > 1)

    val f1 =
      if (boldCount == 0 || boldCount == cellCount) 1.0
      else math.max(boldCount, cellCount - boldCount).toDouble / cellCount
    val f2 = if (bgColors.size <= 1) 1.0 else 0.5
    val f3 = if (fontColors.size <= 1) 1.0 else 0.5
    val consistency = (f1 + f2 + f3) / 3.0

    out.set(hasData = true, boldRatio, bgColors, fontColors, isLikelyHeader, consistency,
      borderSignatureOf(nibs), cellCount)
  }

  /** reference: island_detector.py:1858-1938. Allocation-free per call:
    * bucket counts live in a 6-slot array indexed in the Python dict
    * insertion order (all/none/horizontal/vertical/mixed/outer).
    */
  private def borderSignatureOf(nibs: NibBuf): String = {
    if (nibs.n == 0) return FmtConst.NoBorders
    val counts = new Array[Int](6)
    var isFirst = true
    val last = nibs.n - 1
    var i = 0
    while (i <= last) {
      val nb = nibs.a(i)
      val isLast = i == last
      val hasTop = (nb & 1) != 0
      val hasBottom = (nb & 2) != 0
      val hasLeft = (nb & 4) != 0
      val hasRight = (nb & 8) != 0
      val n = (if (hasTop) 1 else 0) + (if (hasBottom) 1 else 0) +
        (if (hasLeft) 1 else 0) + (if (hasRight) 1 else 0)
      val bucket =
        if (n == 0) 1 // none
        else if (n == 4) 0 // all
        else if (isFirst && hasLeft && (hasTop || hasBottom)) 5 // outer
        else if (isLast && hasRight && (hasTop || hasBottom)) 5 // outer
        else if (hasTop || hasBottom) {
          if (!hasLeft && !hasRight) 2 else 4 // horizontal | mixed
        } else if (hasLeft || hasRight) {
          if (!hasTop && !hasBottom) 3 else 4 // vertical | mixed
        } else 4 // mixed
      counts(bucket) += 1
      isFirst = false
      i += 1
    }
    var maxCount = 0
    i = 0
    while (i < 6) { if (counts(i) > maxCount) maxCount = counts(i); i += 1 }
    if (maxCount == 0) return FmtConst.NoBorders
    i = 0
    while (i < 6 && counts(i) != maxCount) i += 1
    SigBuckets(i)
  }

  /** reference: island_detector.py:1940-1985. */
  private def borderSimilarity(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    SimilarityMap.getOrElse((s1, s2), SimilarityMap.getOrElse((s2, s1), 0.3))
  }

  /** reference: island_detector.py:1178-1241. Two cursor passes, no cell
    * buffers.
    */
  private def hasTableEndBorderPattern(prevRow: Int, currentRow: Int, g: CellGrid,
      cur: GridCursor): Boolean = {
    var colStart = -1
    var colEnd = -1
    var prevCount = 0
    var bottomCount = 0
    var c = 0
    while (c <= g.maxCol) {
      if (cur.moveTo(prevRow, c)) {
        if (colStart < 0) colStart = c
        colEnd = c
        prevCount += 1
        if (cur.hasBorderBottom) bottomCount += 1
      }
      c += 1
    }
    if (prevCount == 0 || colStart < 0) return false
    if (bottomCount < prevCount * 0.7) return false
    var currentCount = 0
    var topCount = 0
    c = colStart
    while (c <= colEnd) {
      if (cur.moveTo(currentRow, c)) {
        currentCount += 1
        if (cur.hasBorderTop) topCount += 1
      }
      c += 1
    }
    if (currentCount == 0) return true
    topCount < currentCount * 0.3
  }

  /** reference: island_detector.py:1696-1799. */
  private def detectFormattingBoundaries(g: CellGrid, rowStart: Int, rowEnd: Int): Vector[Int] = {
    val cur = g.cursor // reused across rows
    val nibs = new NibBuf
    // two-row sliding window: `prev` always holds the last DATA row's
    // summary, `current` this row's — two reusable holders instead of an
    // all-rows array of per-row objects
    var prev = new RowFmt
    var current = new RowFmt
    val boundaries = Vector.newBuilder[Int]
    var prevRow = -1
    var currentTableStart = -1
    var row = rowStart
    while (row <= rowEnd) {
      analyzeRowFormatting(g, row, cur, nibs, current)
      if (current.hasData) {
        if (prevRow >= 0) {
          var isNewTableStart = false
          if (!prev.isLikelyHeader && current.isLikelyHeader) isNewTableStart = true
          if (borderSimilarity(current.borderSignature, prev.borderSignature) <
              FmtConst.BorderConsistencyThreshold) isNewTableStart = true
          if (hasTableEndBorderPattern(prevRow, row, g, cur)) isNewTableStart = true
          var changeScore = 0.0
          if (math.abs(current.boldRatio - prev.boldRatio) > 0.5) changeScore += 0.3
          if (math.abs(current.consistency - prev.consistency) > 0.4) changeScore += 0.2
          if (current.bgColors != prev.bgColors) changeScore += 0.2
          if (current.fontColors != prev.fontColors) changeScore += 0.1
          if (changeScore >= FmtConst.BackgroundChangeThreshold && current.isLikelyHeader &&
              !prev.isLikelyHeader) isNewTableStart = true
          if (isNewTableStart && currentTableStart >= 0) boundaries += row
        }
        if (currentTableStart < 0) currentTableStart = row
        prevRow = row
        // this row becomes `prev`; recycle the old prev holder for the next
        val t = prev; prev = current; current = t
      }
      row += 1
    }
    boundaries.result()
  }

  /** reference: island_detector.py:1987-2035. */
  private def applyFormattingSplits(islands: Vector[DataIsland], g: CellGrid)
      : Vector[DataIsland] = {
    val out = Vector.newBuilder[DataIsland]
    islands.foreach { island =>
      val size = if (island.minRow >= 0) island.maxRow - island.minRow else 0
      if (island.minRow >= 0 && size > 3) {
        val boundaries = detectFormattingBoundaries(g, island.minRow, island.maxRow)
        if (boundaries.nonEmpty) out ++= splitAtBoundaries(island, boundaries, g)
        else out += island
      } else out += island
    }
    out.result()
  }

  /** reference: island_detector.py:2037-2086. */
  private def splitAtBoundaries(island: DataIsland, boundaries: Vector[Int], g: CellGrid)
      : Vector[DataIsland] = {
    if (boundaries.isEmpty || island.minRow < 0) return Vector(island)
    val ranges = mutable.ArrayBuffer.empty[(Int, Int)]
    var startRow = island.minRow
    boundaries.sorted.foreach { b =>
      if (startRow < b) ranges += ((startRow, b - 1))
      startRow = b
    }
    if (startRow <= island.maxRow) ranges += ((startRow, island.maxRow))
    val newIslands = Vector.newBuilder[DataIsland]
    ranges.foreach { case (r0, r1) =>
      val ni = new DataIsland
      ni.totalSheetCells = island.totalSheetCells
      island.cells.foreach { k =>
        val r = rowOf(k)
        if (r >= r0 && r <= r1) ni.addCell(r, colOf(k))
      }
      if (ni.cells.size >= MinIslandSize) {
        ni.calculateMetrics(g)
        newIslands += ni
      }
    }
    val res = newIslands.result()
    if (res.nonEmpty) res else Vector(island)
  }

  /** reference: island_detector.py:2088-2154. */
  private def reconnectGapSeparated(islands: Vector[DataIsland], g: CellGrid)
      : Vector[DataIsland] = {
    if (islands.size <= 1) return islands
    val sorted = islands.sortBy(i => (math.max(i.minRow, 0), math.max(i.minCol, 0)))
    val out = Vector.newBuilder[DataIsland]
    val skip = new Array[Boolean](sorted.size)
    var i = 0
    while (i < sorted.size) {
      if (!skip(i)) {
        // copy-on-first-reconnect (see mergeNearby): shouldReconnect reads
        // only the bbox, identical between island i and its copy
        var acc = sorted(i)
        var j = i + 1
        while (j < sorted.size) {
          if (!skip(j)) {
            val island2 = sorted(j)
            if (shouldReconnect(acc, island2, g)) {
              if (acc eq sorted(i)) acc = sorted(i).copyShell()
              acc.absorb(island2)
              skip(j) = true
            }
          }
          j += 1
        }
        acc.calculateMetrics(g)
        out += acc
      }
      i += 1
    }
    out.result()
  }

  /** reference: island_detector.py:2156-2223. */
  private def shouldReconnect(a: DataIsland, b: DataIsland, g: CellGrid): Boolean = {
    if (a.minRow < 0 || b.minRow < 0) return false
    if (b.minRow != a.maxRow + 2) return false // exactly one row between
    val colStart = math.max(a.minCol, b.minCol)
    val colEnd = math.min(a.maxCol, b.maxCol)
    if (colStart > colEnd) return false
    val overlapCols = colEnd - colStart + 1
    val minCols = math.min(a.maxCol - a.minCol + 1, b.maxCol - b.minCol + 1)
    val overlapRatio = if (minCols > 0) overlapCols.toDouble / minCols else 0.0
    if (overlapRatio < 0.5) return false
    var gapCells = 0
    var r = a.maxRow + 1
    while (r < b.minRow) {
      var c = colStart
      while (c <= colEnd) {
        if (g.contains(r, c)) gapCells += 1
        c += 1
      }
      r += 1
    }
    gapCells <= overlapCols * 0.2
  }

  /** reference: island_detector.py:1243-1304. */
  def toTableHits(islands: Vector[DataIsland], minConfidence: Double, g: CellGrid)
      : Vector[TableHit] = {
    islands.flatMap { island =>
      if (island.confidence < minConfidence || island.minRow < 0) None
      else {
        val span = Span(island.minRow, island.minCol, island.maxRow, island.maxCol)
        Some(TableHit(
          id = s"island_${island.minRow}_${island.minCol}",
          span = span,
          confidence = island.confidence,
          method = "island_detection",
          hasHeaders = island.hasHeaders,
          headers = SimpleCase.extractHeaders(g, span)
        ))
      }
    }
  }

  // bucket order matches Python dict insertion order for ties:
  // all, none, horizontal, vertical, mixed, outer
  private val SigBuckets = Array(FmtConst.AllBorders, FmtConst.NoBorders,
    FmtConst.HorizontalOnly, FmtConst.VerticalOnly, FmtConst.MixedBorders,
    FmtConst.OuterOnly)

  private val SimilarityMap: Map[(String, String), Double] = {
    import FmtConst._
    Map(
      (HorizontalOnly, AllBorders) -> 0.7,
      (VerticalOnly, AllBorders) -> 0.7,
      (HorizontalOnly, MixedBorders) -> 0.6,
      (VerticalOnly, MixedBorders) -> 0.6,
      (AllBorders, MixedBorders) -> 0.8,
      (OuterOnly, AllBorders) -> 0.8,
      (OuterOnly, MixedBorders) -> 0.7,
      (NoBorders, AllBorders) -> 0.2,
      (NoBorders, HorizontalOnly) -> 0.3,
      (NoBorders, VerticalOnly) -> 0.3,
      (NoBorders, MixedBorders) -> 0.2,
      (NoBorders, OuterOnly) -> 0.2,
      (HorizontalOnly, VerticalOnly) -> 0.5,
      (HorizontalOnly, OuterOnly) -> 0.6,
      (VerticalOnly, OuterOnly) -> 0.6
    )
  }
}
