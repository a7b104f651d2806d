package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.grid.{A1, GridHelpers, PyFloat, Span, TypeInfer}

/** Pins against values captured from CPython 3.x in-sandbox (repr(float) and
  * the reference's csv_reader._infer_type) — the contract that makes golden
  * confidences and extracted cell text byte-identical.
  */
class PyCompatSpec extends AnyFunSuite {

  test("PyFloat.repr matches CPython repr") {
    val pins: Seq[(String, Double)] = Seq(
      ("0.9999999999999999", 0.9999999999999999),
      ("0.9478125000000001", 0.9478125000000001),
      ("0.8878125", 0.8878125),
      ("0.95", 0.95),
      ("0.85", 0.85),
      ("0.876875", 0.876875),
      ("1.0", 1.0),
      ("0.0", 0.0),
      ("-0.0", -0.0),
      ("3.5", 3.5),
      ("4.25", 4.25),
      ("2.75", 2.75),
      ("5.0", 5.0),
      ("1e+16", 1e+16),
      ("1000000000000000.0", 1000000000000000.0),
      ("0.0001", 0.0001),
      ("1e-05", 1e-05),
      ("123456789.123", 123456789.123),
      ("0.3333333333333333", 1.0 / 3.0),
      ("0.6666666666666666", 2.0 / 3.0),
      ("0.1", 0.1),
      ("0.2", 0.2),
      ("0.3", 0.3),
      ("1e+23", 1e+23),
      ("-1.5e-08", -1.5e-08),
      ("6.02e+22", 6.02e+22),
      ("100.0", 100.0),
      ("0.5625", 0.5625)
    )
    pins.foreach { case (expected, d) =>
      assert(PyFloat.repr(d) == expected, s"repr($d)")
    }
  }

  test("PyFloat.repr matches every row of the CPython fixture") {
    // rows of (IEEE-754 bits, CPython repr), from tools/gen_pyfloat_fixture.py
    val in = getClass.getResourceAsStream("/pyfloat/cpython_repr.tsv")
    require(in != null, "missing test resource /pyfloat/cpython_repr.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rows = try src.getLines().filterNot(_.startsWith("#")).toVector finally src.close()
    assert(rows.size > 20000)
    val bad = rows.flatMap { row =>
      val tab = row.indexOf('\t')
      val d = java.lang.Double.longBitsToDouble(
        java.lang.Long.parseUnsignedLong(row.substring(0, tab), 16))
      val got = PyFloat.repr(d)
      if (got == row.substring(tab + 1)) None else Some(s"$row -> $got")
    }
    assert(bad.isEmpty, s"${bad.size} rows differ:\n${bad.take(20).mkString("\n")}")
  }

  test("TypeInfer matches reference csv_reader._infer_type") {
    // (raw, python str(converted), data_type) — captured from the reference
    val pins = Seq(
      ("true", "True", "boolean"),
      ("0", "False", "boolean"),
      ("1", "True", "boolean"),
      ("yes", "True", "boolean"),
      ("42", "42", "number"),
      ("1,234", "1234", "number"),
      ("3.5", "3.5", "number"),
      ("4.25e2", "425.0", "number"),
      ("-7", "-7", "number"),
      ("2024-01-15", "2024-01-15", "date"),
      ("01/02/2024", "01/02/2024", "date"),
      ("Jan 5, 2024", "Jan 5, 2024", "date"),
      ("hello", "hello", "string"),
      (".5", "0.5", "number"),
      ("5.", "5.0", "number"),
      ("007", "7", "number")
    )
    pins.foreach { case (raw, expS, expT) =>
      val (s, t) = TypeInfer.infer(raw)
      assert(s == expS && t == expT, s"infer($raw) = ($s, $t), want ($expS, $expT)")
    }
    assert(TypeInfer.infer("  ")._2 == "empty")
  }

  test("A1 codec round-trips") {
    assert(A1.colLetter(0) == "A")
    assert(A1.colLetter(25) == "Z")
    assert(A1.colLetter(26) == "AA")
    assert(A1.colLetter(99) == "CV")
    assert(GridHelpers.colIndex("CV") == 99)
    assert(Span(0, 0, 119, 99).a1 == "A1:CV120")
    assert(GridHelpers.parseRange("B2:D5") == Span(1, 1, 4, 3))
    (0 until 1000).foreach { c =>
      assert(GridHelpers.colIndex(A1.colLetter(c)) == c)
    }
  }
}
