package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.detect.Cascade
import graft.core.extract.Extractor
import graft.core.grid.{GridHelpers, PyFloat}
import graft.core.html.PageParser

/** The fixture-renderer ↔ tokenizer contract: rendering a fixture to HTML
  * and parsing it back must reconstruct the identical grid (values, types,
  * bold, borders), and the full HTML pipeline must reproduce the reference
  * goldens end-to-end.
  */
class HtmlRoundTripSpec extends AnyFunSuite {

  // shared with the pin generator so pins and tests see identical pages
  private val boilerplate = graft.tools.GenShaPins.boilerplate

  FixtureLoader.fixtures.foreach { fix =>
    test(s"round-trip grid: ${fix.name}") {
      val html = boilerplate.format(FixtureLoader.renderHtml(fix))
      val page = PageParser.parse(html)
      assert(page.regions.size == 1, s"expected 1 region, got ${page.regions.size}")
      val region = page.regions.head
      assert(region.kind == FixtureLoader.kindOf(fix), "grid kind")

      val want = FixtureLoader.buildGrid(fix)
      val got = region.grid
      assert(got.size == want.size, s"cell count ${got.size} vs ${want.size}")
      GridHelpers.cellsSorted(want).foreach { w =>
        val g = got.get(w.row, w.col)
        assert(g != null, s"missing cell (${w.row},${w.col})")
        assert(g.value == w.value, s"value at (${w.row},${w.col}): ${g.value} vs ${w.value}")
        assert(g.dataType == w.dataType, s"type at (${w.row},${w.col})")
        assert(g.isBold == w.isBold, s"bold at (${w.row},${w.col})")
        assert(g.borderTop == w.borderTop && g.borderBottom == w.borderBottom &&
          g.borderLeft == w.borderLeft && g.borderRight == w.borderRight,
          s"borders at (${w.row},${w.col})")
      }
    }

    test(s"e2e spans match reference goldens: ${fix.name}") {
      val html = boilerplate.format(FixtureLoader.renderHtml(fix))
      val res = Extractor.extractHtml(html.getBytes("UTF-8"))
      val golden = FixtureLoader.goldens(fix.name)
      assert(res.tables.size == golden.tables.size,
        s"tables: ${res.tables.map(t => (t.hit.method, t.hit.span.a1))} vs " +
          s"${golden.tables.map(t => (t.method, t.a1))}")
      res.tables.zip(golden.tables).foreach { case (got, exp) =>
        assert(got.hit.method == exp.method)
        assert(got.hit.span.a1 == exp.a1)
        assert(PyFloat.repr(got.hit.confidence) == exp.confidence,
          s"conf ${PyFloat.repr(got.hit.confidence)} vs ${exp.confidence}")
        assert(got.hit.headers == exp.headers)
      }
      // the boilerplate nav/footer must be stripped, the prose kept
      assert(res.text.contains("This paragraph is long enough"))
      assert(!res.text.contains("terms of service"))
      assert(res.bytesStripped > 0)
      assert(res.sha256.length == 64)
    }
  }

  test("plain-text payload (no HTML) routes through the TextReader path") {
    // raw TSV bytes: content classifier must NOT see HTML, the delimited
    // region must be detected exactly like the pre_tab fixture grid
    val tsv = "sample\twell\tvalue\tresult\ns1\tA1\t102\tpass\ns2\tA2\t88\tfail\n" +
      "s3\tB1\t240\tpass\ns4\tB2\t55\tpass\n"
    val res = Extractor.extractHtml(tsv.getBytes("UTF-8"))
    assert(res.tables.size == 1)
    assert(res.tables.head.hit.method == "simple_case_fast")
    assert(res.tables.head.hit.span.a1 == "A1:D5")
    assert(res.tables.head.hit.headers == Vector("sample", "well", "value", "result"))

    // prose-only plain text: no regions, text preserved as blocks
    val prose = "First paragraph with enough text to keep around.\n\n" +
      "Second paragraph, also long enough to keep."
    val res2 = Extractor.extractHtml(prose.getBytes("UTF-8"))
    assert(res2.tables.isEmpty)
    assert(res2.text.contains("First paragraph"))
    assert(res2.text.contains("Second paragraph"))
  }

  test("boilerplate-only page yields no regions and empty-ish text") {
    val html = boilerplate.format("")
    val res = Extractor.extractHtml(html.getBytes("UTF-8"))
    assert(res.tables.isEmpty)
    assert(res.regions == 0)
    assert(res.text == "This paragraph is long enough to be kept by the block classifier.")
  }

  test("encodings: same content as UTF-8 / UTF-16LE BOM / Latin-1 bytes") {
    val content = "<p>café content long enough to keep here</p>"
    val utf8 = content.getBytes("UTF-8")
    val utf16 = ("\uFEFF" + content).getBytes("UTF-16LE")
    val latin1 = content.getBytes("ISO-8859-1")
    val a = Extractor.extractHtml(utf8).text
    val b = Extractor.extractHtml(utf16).text
    val c = Extractor.extractHtml(latin1).text
    assert(a == b && b == c, s"$a | $b | $c")
    assert(a.contains("café"))
  }

  test("canonical serialization matches the committed per-fixture SHA pins") {
    // byte-identity regression gate: any change to the text contract must be
    // deliberate — regenerate via `sbt "Test/runMain graft.tools.GenShaPins"`
    // and explain the diff in the commit
    import scala.jdk.CollectionConverters._
    val in = getClass.getResourceAsStream("/golden/text_sha_pins.json")
    require(in != null, "missing text_sha_pins.json")
    val pins = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    in.close()
    FixtureLoader.fixtures.foreach { fix =>
      val html = boilerplate.format(FixtureLoader.renderHtml(fix))
      val got = Extractor.extractHtml(html.getBytes("UTF-8")).sha256
      assert(pins.has(fix.name), s"no pin for ${fix.name} — regenerate pins")
      assert(got == pins.get(fix.name).asText(),
        s"canonical text changed for ${fix.name}")
    }
  }

  test("ragged delimited lines keep every field, in plain text and in <pre>") {
    // the third line has two more fields than the first: the grid's
    // declared width comes from the widest line, so every field lands in
    // its column, and the pin fixes the canonical text of both documents
    val text = "name,qty,price\napple,3,1.25\npear,4,2.50,extra,more\n" +
      "plum,5,0.75\nfig,6,3.00\nkiwi,7,1.10\n"
    val lines = text.split('\n').map(_.split(','))
    val plain = Extractor.parsePlainText(text)
    val pre = PageParser.parse("<html><body><pre>" + text + "</pre></body></html>")
    Seq(plain, pre).foreach { page =>
      val g = page.regions.head.grid
      assert(g.size == lines.map(_.length).sum && g.width == 5)
      lines.zipWithIndex.foreach { case (fields, r) =>
        fields.zipWithIndex.foreach { case (v, c) =>
          assert(g.get(r, c) != null && g.get(r, c).raw == v, s"($r, $c)")
        }
      }
    }
    val pin = "2c3d70daf2595c0013bcef8c3722599df448c9567f753b6bc055525cbbfc359c"
    assert(Extractor.extractHtml(text.getBytes("UTF-8")).sha256 == pin)
    val preDoc = "<html><body><pre>" + text + "</pre></body></html>"
    val res = Extractor.extractHtml(preDoc.getBytes("UTF-8"))
    assert(res.sha256 == pin && res.text.contains("pear\t4\t2.5\textra\tmore"), res.text)
  }

  test("a regular 400 x 200 table keeps its canonical text SHA") {
    // a grid of 80,000 slots, over 64k: the pin fixes its canonical text
    val sb = new StringBuilder("<html><body><table>")
    (0 until 400).foreach { r =>
      sb.append("<tr>")
      (0 until 200).foreach { c =>
        if (r == 0) sb.append("<th>col").append(c).append("</th>")
        else sb.append("<td>").append(r * 1000 + c).append("</td>")
      }
      sb.append("</tr>")
    }
    sb.append("</table></body></html>")
    val res = Extractor.extractHtml(sb.toString.getBytes("UTF-8"))
    assert(res.tables.size == 1 && res.tables.head.hit.span.a1 == "A1:GR400")
    assert(res.sha256 == "22ddee7c28f16c84e9b19b4b42d4182c43b8e7504ace5e80505a1064ace0a745")
  }
}
