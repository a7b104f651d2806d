package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.detect.DetectConfig
import graft.core.extract.Extractor
import graft.core.grid.CellGrid
import graft.core.html.{DelimitedText, PageParser}
import graft.spark.{Page, Pipeline}

/** The hard safety caps (SURVEY §2 O3/O4) that no golden fixture
  * exceeds: the 1M-row delimited-parse cap (reference: csv_reader.py:252-255),
  * the max-tables-per-sheet cap (reference config max_tables_per_sheet) and
  * the grid-area cap `CellGrid.MaxGridArea`.
  */
class CapsSpec extends AnyFunSuite {

  test("O3: delimited parse stops at the 1M-row cap") {
    val rows = DelimitedText.MaxRows + 1000
    val sb = new java.lang.StringBuilder(rows * 4)
    var i = 0
    while (i < rows) { sb.append("a,1\n"); i += 1 }
    val (g, _) = DelimitedText.parse(sb.toString, ',')
    assert(g.maxRow + 1 <= DelimitedText.MaxRows + 1,
      s"grid has ${g.maxRow + 1} rows, cap is ${DelimitedText.MaxRows}")
    assert(g.maxRow + 1 >= DelimitedText.MaxRows, "cap must not truncate early")
  }

  test("a table over MaxGridArea keeps its leading rows and extracts in bounded time") {
    // five colspan=1000 cells make the table 4,001 columns wide, and the
    // one-cell rows below take its extent to 2,001 × 4,001 slots, about
    // twice the cap: the rows past the cap are dropped, the way the 1M-row
    // cap truncates delimited text
    val sb = new StringBuilder("<html><body><table><tr>")
    (0 until 5).foreach(i => sb.append(s"<td colspan=1000>h$i</td>"))
    sb.append("</tr>")
    (1 to 2000).foreach(r => sb.append(s"<tr><td>r$r</td></tr>"))
    sb.append("</table></body></html>")
    val html = sb.toString
    val keep = CellGrid.MaxGridArea / 4001
    assert(keep == 1048 && 2001L * 4001 > CellGrid.MaxGridArea)

    val t0 = System.nanoTime()
    val g = PageParser.parse(html).regions.head.grid
    val local = Extractor.extractHtml(html.getBytes("UTF-8"))
    assert((System.nanoTime() - t0) < 30e9, "parse and extract must stay bounded")
    assert(g.height == keep && g.width == 4001)
    assert((0 until 5).forall(i => g.get(0, i * 1000).value == s"h$i"))
    assert((1 until keep).forall(r => g.get(r, 0).value == s"r$r"), "leading rows kept")
    assert(g.size == 5 + keep - 1 && g.maxRow == keep - 1, "trailing rows dropped")
    assert(local.text.contains("r1047") && !local.text.contains("r1048"), local.text.take(300))

    import SparkTestBase.spark.implicits._
    val page = Page("u:wide", new java.sql.Timestamp(0), html.getBytes("UTF-8"), "", "en")
    val out = Pipeline.extract(SparkTestBase.spark, Seq(page).toDS()).collect()
    assert(out.length == 1 && !out(0).parse_failed && out(0).n_regions == 1)
    assert(out(0).text_sha256 == local.sha256)
  }

  test("O4: max_tables_per_sheet caps detected tables per region") {
    // one table region holding 51 fully bordered 2x2 boxes, each followed
    // by an empty row: the box detector finds all 51, the cap keeps 50
    val boxes = (0 until 51).map { b =>
      (0 until 2).map(r => "<tr>" + (0 until 2).map(c =>
        s"<td>b$b-$r$c</td>").mkString + "</tr>").mkString + "<tr><td></td><td></td></tr>"
    }.mkString
    val html = s"<html><body><table border=\"1\">$boxes</table></body></html>"
    val res = Extractor.extractHtml(html.getBytes("UTF-8"))
    assert(res.regions == 1)
    assert(res.tables.size == DetectConfig.MaxTablesPerSheet && res.tables.size == 50,
      s"expected the 50-table cap, got ${res.tables.size}")
    assert(res.tables.forall(_.hit.method == "box_table"), res.tables.map(_.hit.method).distinct)
  }

  test("a one-row gap is bridged into one island table") {
    // two 3x3 blocks separated by EXACTLY one empty row: the island
    // detector reconnects across a one-row gap
    def block(v0: Int) =
      (0 until 3).map(r => "<tr>" + (0 until 3).map(c =>
        s"<td>w${v0 + r * 3 + c}</td>").mkString + "</tr>").mkString
    val html = "<html><body><table>" + block(1) +
      "<tr><td></td><td></td><td></td></tr>" + block(10) + "</table></body></html>"
    val bridged = Extractor.extractHtml(html.getBytes("UTF-8"))
    assert(bridged.tables.map(t => (t.hit.method, t.hit.span.a1)) ==
      Vector(("island_detection", "A1:C7")), bridged.tables.map(_.hit))
  }
}
