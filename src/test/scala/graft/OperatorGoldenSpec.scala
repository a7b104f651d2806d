package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.detect.SemanticFormatAnalyzer
import graft.core.extract.TableExtractor
import graft.core.grid.{GridHelpers, PyFloat}

/** Pins the extractor (DataFrameExtractor port) and the test-side semantic
  * format analyzer against the reference's outputs over the same fixture
  * grids (the expected.json `extraction` and `structure` sections,
  * generated by tools/gen_goldens.py from the reference).
  */
class OperatorGoldenSpec extends AnyFunSuite {

  FixtureLoader.fixtures.foreach { fix =>
    val node = FixtureLoader.goldenNodes(fix.name)
    if (node.has("extraction")) {
      val grid = FixtureLoader.buildGrid(fix)
      val golden = FixtureLoader.goldens(fix.name)
      val span = GridHelpers.parseRange(golden.tables.head.a1)

      test(s"extractor golden: ${fix.name}") {
        val exp = node.get("extraction")
        val (table, hiOpt, quality) = new TableExtractor().extract(grid, span)
        val hi = hiOpt.getOrElse(fail("no header info"))
        assert(hi.hasHeaders == exp.get("has_headers").asBoolean(), "has_headers")
        assert(hi.headerRows == exp.get("header_rows").asInt(), "header_rows")
        assert(hi.headerColumns == exp.get("header_columns").asInt(), "header_columns")
        assert(hi.orientation == exp.get("orientation").asText(), "orientation")
        val expHeaders = exp.get("headers").elements().asScala.map(_.asText()).toVector
        assert(hi.headers == expHeaders, s"headers ${hi.headers} vs $expHeaders")
        assert(PyFloat.repr(hi.confidence) == exp.get("confidence").asText(),
          s"confidence ${PyFloat.repr(hi.confidence)} vs ${exp.get("confidence").asText()}")
        assert(hi.titleRows == exp.get("title_rows").elements().asScala.map(_.asInt()).toVector,
          "title_rows")
        val expTypes = exp.get("column_types").properties().asScala
          .map(e => e.getKey.toInt -> e.getValue.asText()).toMap
        assert(hi.columnTypes == expTypes, s"column_types ${hi.columnTypes} vs $expTypes")
        assert(hi.tableType == exp.get("table_type").asText(), "table_type")
        assert(PyFloat.repr(quality) == exp.get("quality").asText(),
          s"quality ${PyFloat.repr(quality)} vs ${exp.get("quality").asText()}")
        if (exp.get("df_shape").isNull) assert(table.isEmpty, "expected no table data")
        else {
          val t = table.getOrElse(fail("expected table data"))
          assert(t.rowCount == exp.get("df_shape").get(0).asInt(), "row count")
          assert(t.colCount == exp.get("df_shape").get(1).asInt(), "col count")
        }
        // the stats-only kernel path must agree with the materializing path
        // on every observable it ships (shape, header info, quality)
        val (shape, hiS, qS) = new TableExtractor().extractStats(grid, span)
        assert(shape == table.map(t => (t.rowCount, t.colCount)), "extractStats shape")
        assert(hiS == hiOpt, "extractStats header info")
        assert(qS == quality, "extractStats quality (bit-exact)")
      }

      test(s"structure golden: ${fix.name}") {
        val exp = node.get("structure")
        val st = new SemanticFormatAnalyzer().analyzeTableStructure(grid, span, headerRows = 1)
        val expTypes = exp.get("row_types").elements().asScala.map(_.asText()).toVector
        assert(st.semanticRows.map(_.rowType) == expTypes,
          s"row_types ${st.semanticRows.map(_.rowType)} vs $expTypes")
        val expSections = exp.get("sections").elements().asScala
          .map(s => (s.get(0).asInt(), s.get(1).asInt())).toVector
        assert(st.sections == expSections, s"sections ${st.sections} vs $expSections")
        assert(st.hasSubtotals == exp.get("has_subtotals").asBoolean(), "has_subtotals")
        assert(st.hasGrandTotal == exp.get("has_grand_total").asBoolean(), "has_grand_total")
        assert(st.preserveBlankRows ==
          exp.get("preserve_blank_rows").elements().asScala.map(_.asInt()).toVector,
          "preserve_blank_rows")
        assert(st.formatPatterns.size == exp.get("n_patterns").asInt(),
          s"n_patterns ${st.formatPatterns} vs ${exp.get("n_patterns").asInt()}")
      }
    }
  }
}
