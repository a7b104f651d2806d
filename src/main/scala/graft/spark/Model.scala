package graft.spark

import java.sql.Timestamp

/** Input row — exactly the BASELINE.json input_hint shape:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One detected table span (nested in Extracted.spans). The trailing fields
  * carry the per-span DataFrame-extraction surface (reference:
  * extractors/dataframe_extractor.py header/orientation/quality results) so
  * downstream queries never re-run the kernel.
  */
final case class SpanOut(
    region: Int,
    origin: String,
    method: String,
    a1: String,
    r0: Int,
    c0: Int,
    r1: Int,
    c1: Int,
    confidence: Double,
    has_headers: Boolean,
    headers: Seq[String],
    orientation: String,
    header_rows: Int,
    table_has_headers: Boolean,
    table_type: String,
    quality: Double,
    data_rows: Int,
    data_cols: Int
)

/** One author-declared metadata hint row (nested in Extracted.hints) —
  * the ExcelMetadataExtractor-analogue surface (caption/summary/id-class).
  */
final case class HintOut(
    region: Int,
    source: String,
    name: String,
    confidence: Double
)

/** Output row of the extraction pipeline. */
final case class Extracted(
    url: String,
    lang: String,
    text: String,
    text_sha256: String,
    n_regions: Int,
    n_tables: Int,
    bytes_stripped: Long,
    parse_failed: Boolean,
    partition_id: Int,
    spans: Seq[SpanOut],
    hints: Seq[HintOut]
)
