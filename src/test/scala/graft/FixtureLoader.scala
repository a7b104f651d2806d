package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.core.detect.GridKind
import graft.core.grid.{Cell, CellGrid, TypeInfer}

/** Test-side loader for the golden fixture spec. Must expand generators and
  * apply typing byte-identically to tools/gen_goldens.py.
  */
object FixtureLoader {
  private val mapper = new ObjectMapper()

  final case class FixCell(r: Int, c: Int, v: String, bold: Boolean,
      bt: String, bb: String, bl: String, br: String, mr: String, bg: String = null)
  final case class Fixture(name: String, kind: String, cells: Vector[FixCell])
  final case class GoldenTable(id: String, method: String, a1: String, confidence: String,
      hasHeaders: Boolean, headers: Vector[String])
  final case class Golden(name: String, methodUsed: String, tables: Vector[GoldenTable])

  private def resource(path: String): JsonNode = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing test resource $path")
    try mapper.readTree(in) finally in.close()
  }

  lazy val fixtures: Vector[Fixture] = {
    resource("/golden/fixtures.json").get("fixtures").elements().asScala.map { f =>
      val name = f.get("name").asText()
      val kind = f.get("kind").asText()
      val cells =
        if (f.has("cells"))
          f.get("cells").elements().asScala.map { c =>
            FixCell(c.get("r").asInt(), c.get("c").asInt(), c.get("v").asText(),
              if (c.has("bold")) c.get("bold").asBoolean() else false,
              opt(c, "bt"), opt(c, "bb"), opt(c, "bl"), opt(c, "br"), opt(c, "mr"),
              opt(c, "bg"))
          }.toVector
        else expandGen(f.get("gen"))
      Fixture(name, kind, cells)
    }.toVector
  }

  private def opt(n: JsonNode, k: String): String =
    if (n.has(k)) n.get(k).asText() else null

  private def expandGen(gen: JsonNode): Vector[FixCell] = {
    val out = Vector.newBuilder[FixCell]
    gen.get("type").asText() match {
      case "dense" =>
        val rows = gen.get("rows").asInt()
        val cols = gen.get("cols").asInt()
        (0 until cols).foreach(c => out += FixCell(0, c, s"h$c", bold = true, null, null, null, null, null))
        (1 until rows).foreach { r =>
          (0 until cols).foreach { c =>
            out += FixCell(r, c, ((r * 31 + c * 7) % 1000).toString, bold = false, null, null, null, null, null)
          }
        }
      case "plate96" =>
        (1 to 12).foreach(c => out += FixCell(0, c, c.toString, bold = false, null, null, null, null, null))
        (1 to 8).foreach { r =>
          out += FixCell(r, 0, ('A' + r - 1).toChar.toString, bold = false, null, null, null, null, null)
          (1 to 12).foreach { c =>
            out += FixCell(r, c, ((r * 127 + c * 31) % 9000).toString, bold = false, null, null, null, null, null)
          }
        }
      case "wide" =>
        (0 until 60).foreach { c =>
          out += FixCell(0, c, s"w$c", bold = false, null, null, null, null, null)
          out += FixCell(1, c, ((c * 13) % 500).toString, bold = false, null, null, null, null, null)
        }
      case "plate384" =>
        (1 to 24).foreach(c => out += FixCell(0, c, c.toString, bold = false, null, null, null, null, null))
        (1 to 16).foreach { r =>
          out += FixCell(r, 0, ('A' + r - 1).toChar.toString, bold = false, null, null, null, null, null)
          (1 to 24).foreach { c =>
            out += FixCell(r, c, ((r * 127 + c * 31) % 9000).toString, bold = false, null, null, null, null, null)
          }
        }
      case t => throw new IllegalArgumentException(t)
    }
    out.result()
  }

  lazy val goldens: Map[String, Golden] = {
    resource("/golden/expected.json").get("goldens").elements().asScala.map { g =>
      val tables = g.get("tables").elements().asScala.map { t =>
        GoldenTable(t.get("id").asText(), t.get("method").asText(), t.get("a1").asText(),
          t.get("confidence").asText(), t.get("has_headers").asBoolean(),
          t.get("headers").elements().asScala.map(_.asText()).toVector)
      }.toVector
      val golden = Golden(g.get("name").asText(), g.get("method_used").asText(), tables)
      golden.name -> golden
    }.toMap
  }

  /** Raw golden JSON per fixture. The suites read its `extraction` and
    * `structure` sections; the `multi_header` section pins an analyzer
    * this port no longer has and stays only because the file cannot be
    * regenerated without the reference.
    */
  lazy val goldenNodes: Map[String, JsonNode] = {
    resource("/golden/expected.json").get("goldens").elements().asScala
      .map(g => g.get("name").asText() -> g).toMap
  }

  def kindOf(fix: Fixture): GridKind = fix.kind match {
    case "formatted" => GridKind.Formatted
    case "csv" => GridKind.Csv
    case "tsv" | "txt" => GridKind.DelimitedText
    case k => throw new IllegalArgumentException(k)
  }

  /** Build the grid exactly as gen_goldens.py builds the SheetData. */
  def buildGrid(fix: Fixture): CellGrid = {
    val g = new CellGrid(fix.cells.map(_.r).max + 1, fix.cells.map(_.c).max + 1)
    fix.cells.foreach { fc =>
      val (value, dt) =
        if (fix.kind == "txt") (fc.v.trim, "string")
        else TypeInfer.infer(fc.v)
      if (value != null) {
        g.put(Cell.of(value, fc.v, dt, fc.r, fc.c, isBold = fc.bold,
          borderTop = fc.bt, borderBottom = fc.bb, borderLeft = fc.bl, borderRight = fc.br,
          isMerged = fc.mr != null, mergeRange = fc.mr, backgroundColor = fc.bg))
      }
    }
    g
  }

  /** Render a fixture as the HTML fragment the PageParser must reconstruct
    * into the identical grid (the fixture-renderer ↔ tokenizer contract).
    */
  def renderHtml(fix: Fixture): String = {
    val maxRow = fix.cells.map(_.r).max
    val maxCol = fix.cells.map(_.c).max
    val byPos = fix.cells.map(c => (c.r, c.c) -> c).toMap
    val sb = new StringBuilder
    if (fix.kind == "formatted") {
      // positions covered by a merge (not the anchor) are not emitted
      val covered = fix.cells.filter(_.mr != null).flatMap { fc =>
        val span = graft.core.grid.GridHelpers.parseRange(fc.mr)
        for {
          r <- span.r0 to span.r1
          c <- span.c0 to span.c1
          if !(r == fc.r && c == fc.c)
        } yield (r, c)
      }.toSet
      sb.append("<table>")
      (0 to maxRow).foreach { r =>
        sb.append("<tr>")
        (0 to maxCol).foreach { c =>
          if (covered.contains((r, c))) ()
          else byPos.get((r, c)) match {
            case Some(fc) =>
              val styles = Seq(
                Option(fc.bt).map(l => s"border-top: ${px(l)} solid #000"),
                Option(fc.bb).map(l => s"border-bottom: ${px(l)} solid #000"),
                Option(fc.bl).map(l => s"border-left: ${px(l)} solid #000"),
                Option(fc.br).map(l => s"border-right: ${px(l)} solid #000"),
                Option(fc.bg).map(b => s"background-color: $b")
              ).flatten
              sb.append("<td")
              if (fc.mr != null) {
                val span = graft.core.grid.GridHelpers.parseRange(fc.mr)
                if (span.colCount > 1) sb.append(" colspan=\"").append(span.colCount).append('"')
                if (span.rowCount > 1) sb.append(" rowspan=\"").append(span.rowCount).append('"')
              }
              if (styles.nonEmpty) sb.append(" style=\"").append(styles.mkString("; ")).append('"')
              sb.append('>')
              if (fc.bold) sb.append("<b>").append(esc(fc.v)).append("</b>")
              else sb.append(esc(fc.v))
              sb.append("</td>")
            case None => sb.append("<td></td>")
          }
        }
        sb.append("</tr>")
      }
      sb.append("</table>")
    } else {
      val delim = fix.kind match {
        case "tsv" => '\t'
        case "csv" => ','
        case "txt" => ' '
      }
      sb.append("<pre>")
      (0 to maxRow).foreach { r =>
        val line = (0 to maxCol).map(c => byPos.get((r, c)).map(_.v).getOrElse(""))
          .mkString(delim.toString)
        sb.append(esc(line)).append('\n')
      }
      sb.append("</pre>")
    }
    sb.toString
  }

  private def px(level: String): String = level match {
    case "thin" => "1px"
    case "medium" => "2px"
    case "thick" => "3px"
    case _ => "1px"
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
}
