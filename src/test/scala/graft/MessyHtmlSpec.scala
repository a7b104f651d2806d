package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.html.PageParser

/** Pins the parser's behaviour on the messy markup shapes a real crawl
  * serves: section tags inside tables, nested layout tables, uppercase
  * tags, unquoted attributes, implicit row/cell closure.
  */
class MessyHtmlSpec extends AnyFunSuite {

  test("thead/tbody/tfoot wrappers are transparent") {
    val html = "<table><thead><tr><th>H1</th><th>H2</th></tr></thead>" +
      "<tbody><tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></tbody></table>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 1)
    val g = page.regions.head.grid
    assert(g.size == 6)
    assert(g.get(0, 0).value == "H1" && g.get(0, 0).isBold)
    assert(g.get(2, 1).value == "2")
  }

  test("nested table becomes its OWN region; outer cells keep their own text") {
    // round-3 contract change: crawl HTML nests tables constantly, and the
    // old flatten bled inner cell text separator-free into the outer cell
    // ("outer inner" concatenation). Now each nested <table> is a separate
    // region — the web analogue of GridGulp's multiple islands per sheet.
    val html = "<table><tr><td>outer <table><tr><td>in1</td><td>in2</td></tr>" +
      "<tr><td>in3</td><td>in4</td></tr></table></td>" +
      "<td>plain</td></tr><tr><td>r2</td><td>r2b</td></tr></table>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 2, s"inner + outer regions, got ${page.regions.size}")
    // inner table completes first (document order of completion)
    val inner = page.regions.head.grid
    assert(inner.size == 4 && inner.get(0, 0).value == "in1" && inner.get(1, 1).value == "in4")
    val outer = page.regions(1).grid
    assert(outer.get(0, 0).value == "outer", "inner text must not bleed into the outer cell")
    assert(outer.get(0, 1).value == "plain")
    assert(outer.get(1, 0).value == "r2")
  }

  test("table nesting beyond the depth cap degrades to text flow, bounded memory") {
    val depth = 200 // > MaxTableNesting (64)
    val html = "<table><tr><td>" * depth + "leaf" + "</td></tr></table>" * depth
    val page = PageParser.parse(html)
    // the first 65 levels are tracked builders (64 stacked + current); only
    // grids with data materialize as regions — the leaf text lands in the
    // deepest TRACKED cell, so exactly one region has data
    assert(page.regions.size == 1, s"got ${page.regions.size}")
    assert(page.regions.head.grid.get(0, 0).value == "leaf")
  }

  test("hostile rowspan/colspan are clamped (bounded shadow work)") {
    // a crafted page with astronomically large spans must parse in bounded
    // time/memory: the eager merge-shadow walk is rowspan×colspan inserts,
    // clamped at colspan<=1000 and rowspan×colspan<=64k per cell
    val html = "<table><tr>" +
      "<td rowspan=\"2000000000\" colspan=\"2000000000\">bomb</td>" +
      "<td>b</td></tr><tr><td>c</td></tr></table>"
    val t0 = System.nanoTime()
    val page = PageParser.parse(html)
    assert((System.nanoTime() - t0) < 30e9, "parse must not hang")
    val g = page.regions.head.grid
    assert(g.get(0, 0).value == "bomb")
    assert(g.get(0, 0).isMerged, "clamped span still records a merge")
    // negative/garbage spans degrade to 1
    val page2 = PageParser.parse(
      "<table><tr><td rowspan=\"-5\" colspan=\"x\">v</td><td>w</td></tr></table>")
    val g2 = page2.regions.head.grid
    assert(g2.get(0, 0).value == "v" && !g2.get(0, 0).isMerged)
    assert(g2.get(0, 1).value == "w")
  }

  test("uppercase tags and unquoted attributes parse") {
    val html = "<TABLE BORDER=1><TR><TD COLSPAN=2><B>Wide</B></TD></TR>" +
      "<TR><TD>x</TD><TD>y</TD></TR></TABLE>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 1)
    val g = page.regions.head.grid
    val c = g.get(0, 0)
    assert(c.value == "Wide" && c.isBold && c.isMerged && c.mergeRange == "A1:B1")
    assert(c.borderTop == "thin", "table BORDER=1 gives cells thin borders")
    assert(g.get(1, 1).value == "y")
  }

  test("tag classes match uncommon and spaced tag names, which are not interned") {
    // SELECT / NOSCRIPT / BLOCKQUOTE are outside the tokenizer's interned
    // names, and a space before '>' takes the end tag off the interned path
    val html = "<SELECT>hidden option text</SELECT ><Button>click me now</Button >" +
      "<NoScript>raw <table><tr><td>ghost</td><td>x</td></tr></table></NOSCRIPT >" +
      "<BLOCKQUOTE>a quoted paragraph</BLOCKQUOTE >text after the quote"
    val page = PageParser.parse(html)
    assert(page.regions.isEmpty, "noscript content is raw text, not a table")
    assert(page.textBlocks == Vector("a quoted paragraph", "text after the quote"))
  }

  test("unclosed td/tr are closed implicitly") {
    val html = "<table><tr><td>a<td>b<tr><td>c<td>d</table>"
    val page = PageParser.parse(html)
    val g = page.regions.head.grid
    assert(g.size == 4)
    assert(g.get(0, 1).value == "b")
    assert(g.get(1, 0).value == "c")
  }

  test("entities and numeric references decode in cells and text") {
    val html = "<p>caf&eacute; is not decoded (unknown entity kept) but &amp; and &#65; are</p>" +
      "<table><tr><td>a&amp;b</td><td>&#8364;9</td></tr><tr><td>x</td><td>y</td></tr></table>"
    val page = PageParser.parse(html)
    val g = page.regions.head.grid
    assert(g.get(0, 0).value == "a&b")
    assert(g.get(0, 1).value == "€9")
    assert(page.textBlocks.exists(_.contains("& and A are")))
  }

  test("comments, doctype and processing instructions are skipped") {
    val html = "<!DOCTYPE html><?xml version='1'?><!-- <table><tr><td>ghost --> " +
      "<table><tr><td>real</td><td>2</td></tr><tr><td>r</td><td>3</td></tr></table>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 1)
    assert(page.regions.head.grid.get(0, 0).value == "real")
  }

  test("captions survive nested markup, entities, and unclosed tags") {
    val html = "<table><caption>Q3 <b>Sales</b> &amp; Returns" + // unclosed caption
      "<tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></table>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 1)
    // an unclosed <caption> is implicitly ended by table-row content: the
    // cell text must land in cells, never in the caption
    val meta = page.regions.head.meta
    assert(meta.caption == "Q3 Sales & Returns",
      s"caption must end at the first row, got '${meta.caption}'")
    assert(page.regions.head.grid.get(0, 0).value == "a")
  }

  test("caption in a nested table never pollutes the outer table's metadata") {
    val html = "<table><caption>outer</caption><tr><td>nested here " +
      "<table><caption>inner</caption><tr><td>x</td></tr></table>" +
      "</td><td>2</td></tr><tr><td>y</td><td>3</td></tr></table>"
    val page = PageParser.parse(html)
    assert(page.regions.size == 2)
    // each region owns exactly its own caption (inner completes first)
    assert(page.regions.head.meta.caption == "inner")
    assert(page.regions.head.grid.get(0, 0).value == "x")
    assert(page.regions(1).meta.caption == "outer")
    assert(page.regions(1).grid.get(0, 0).value == "nested here")
  }
}
