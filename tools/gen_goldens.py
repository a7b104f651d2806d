#!/usr/bin/env python3
"""Golden generator: runs the REFERENCE implementation's detection over the
fixture spec and pins its output (methods, ranges, exact float confidences,
headers) as src/test/resources/golden/expected.json.

The reference at /root/reference is the oracle for the north-rule invariant
(byte-identical detection behaviour); this script is test tooling only — no
reference code is copied into the engine.

Usage: python3 tools/gen_goldens.py
"""
import asyncio
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, "/root/reference/src")

from gridgulp.detection import TableDetectionAgent  # noqa: E402
from gridgulp.detectors.format_analyzer import SemanticFormatAnalyzer  # noqa: E402
from gridgulp.extractors.dataframe_extractor import DataFrameExtractor  # noqa: E402
from gridgulp.models.file_info import FileType  # noqa: E402
from gridgulp.models.sheet_data import CellData, SheetData  # noqa: E402
from gridgulp.models.table import TableRange  # noqa: E402
from gridgulp.readers.csv_reader import CSVReader  # noqa: E402

# Reuse the reference's own type inference so fixture typing is by-construction
# identical to what its readers produce (csv_reader.py:329-409).
_infer = object.__new__(CSVReader)

KIND_TO_FILETYPE = {
    "formatted": None,
    "csv": FileType.CSV,
    "tsv": FileType.TSV,
    "txt": FileType.TXT,
}


def expand_gen(gen):
    cells = []
    t = gen["type"]
    if t == "dense":
        rows, cols = gen["rows"], gen["cols"]
        for c in range(cols):
            cells.append({"r": 0, "c": c, "v": f"h{c}", "bold": True})
        for r in range(1, rows):
            for c in range(cols):
                cells.append({"r": r, "c": c, "v": str((r * 31 + c * 7) % 1000)})
    elif t == "plate96":
        for c in range(1, 13):
            cells.append({"r": 0, "c": c, "v": str(c)})
        for r in range(1, 9):
            cells.append({"r": r, "c": 0, "v": chr(ord("A") + r - 1)})
            for c in range(1, 13):
                cells.append({"r": r, "c": c, "v": str((r * 127 + c * 31) % 9000)})
    elif t == "wide":
        for c in range(60):
            cells.append({"r": 0, "c": c, "v": f"w{c}"})
            cells.append({"r": 1, "c": c, "v": str((c * 13) % 500)})
    elif t == "plate384":
        for c in range(1, 25):
            cells.append({"r": 0, "c": c, "v": str(c)})
        for r in range(1, 17):
            cells.append({"r": r, "c": 0, "v": chr(ord("A") + r - 1)})
            for c in range(1, 25):
                cells.append({"r": r, "c": c, "v": str((r * 127 + c * 31) % 9000)})
    else:
        raise ValueError(t)
    return cells


def build_sheet(fix):
    cells = fix.get("cells") or expand_gen(fix["gen"])
    kind = fix["kind"]
    sd = SheetData(name=fix["name"])
    for cell in cells:
        raw = cell["v"]
        if kind == "txt":
            value, dt = raw.strip(), "string"
        else:
            value, dt = _infer._infer_type(raw)
        if value is None:
            continue
        sd.set_cell(
            cell["r"],
            cell["c"],
            CellData(
                value=value,
                formatted_value=raw,
                data_type=dt,
                is_bold=bool(cell.get("bold", False)),
                is_merged=bool(cell.get("mr")),
                merge_range=cell.get("mr"),
                border_top=cell.get("bt"),
                border_bottom=cell.get("bb"),
                border_left=cell.get("bl"),
                border_right=cell.get("br"),
                alignment=cell.get("align"),
                background_color=cell.get("bg"),
                font_color=cell.get("fc"),
                font_size=cell.get("fs"),
                row=cell["r"],
                column=cell["c"],
            ),
        )
    return sd


def main():
    spec = json.loads((REPO / "src/test/resources/golden/fixtures.json").read_text())
    out = []
    for fix in spec["fixtures"]:
        sd = build_sheet(fix)
        agent = TableDetectionAgent(
            confidence_threshold=0.6, file_type=KIND_TO_FILETYPE[fix["kind"]]
        )
        res = asyncio.run(agent.detect_tables(sd))
        tables = []
        for t in res.tables:
            tables.append(
                {
                    "id": t.id,
                    "method": t.detection_method,
                    "a1": t.range.excel_range,
                    "confidence": repr(t.confidence),
                    "has_headers": t.has_headers,
                    "headers": t.headers if t.headers else [],
                }
            )
        entry = {
            "name": fix["name"],
            "method_used": res.processing_metadata["method_used"],
            "tables": tables,
        }
        # pin the extractor / structure operators over the first detected
        # table range (reference public API surface)
        if res.tables:
            tr = res.tables[0].range
            rng = TableRange(
                start_row=tr.start_row, start_col=tr.start_col,
                end_row=tr.end_row, end_col=tr.end_col,
            )
            df, hi, quality = DataFrameExtractor().extract_dataframe(sd, rng)
            entry["extraction"] = {
                "has_headers": hi.has_headers if hi else False,
                "header_rows": hi.header_rows if hi else 0,
                "header_columns": hi.header_columns if hi else 0,
                "orientation": hi.orientation if hi else "vertical",
                "headers": (hi.headers if hi else []) or [],
                "confidence": repr(hi.confidence) if hi else "0.0",
                "title_rows": (hi.title_rows if hi else []) or [],
                "column_types": {str(k): v for k, v in (hi.column_types if hi else {}).items()},
                "table_type": hi.table_type if hi else "standard",
                "quality": repr(quality),
                "df_shape": list(df.shape) if df is not None else None,
            }
            st = SemanticFormatAnalyzer().analyze_table_structure(sd, rng, header_rows=1)
            entry["structure"] = {
                "row_types": [r.row_type.value for r in st.semantic_rows],
                "sections": [list(sc) for sc in st.sections],
                "has_subtotals": st.has_subtotals,
                "has_grand_total": st.has_grand_total,
                "preserve_blank_rows": st.preserve_blank_rows,
                "n_patterns": len(st.format_patterns),
            }
        out.append(entry)
        print(
            fix["name"],
            "->",
            res.processing_metadata["method_used"],
            [(t["method"], t["a1"], t["confidence"]) for t in tables],
        )
    (REPO / "src/test/resources/golden/expected.json").write_text(
        json.dumps({"goldens": out}, indent=1)
    )
    print(f"wrote {len(out)} goldens")


if __name__ == "__main__":
    main()
