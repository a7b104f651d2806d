package graft.core.detect

/** Detection thresholds copied verbatim from the reference so confidence
  * arithmetic is bit-identical (reference: src/gridgulp/core/constants.py).
  */
object IslandConst {
  val MinCellsGood = 20
  val MinCellsMedium = 10
  val MinCellsSmall = 4

  val DensityHigh = 0.8
  val DensityMedium = 0.6
  val DensityLow = 0.3

  val AspectRatioMin = 0.1
  val AspectRatioMax = 10.0

  val BaseConfidence = 0.5

  val ColumnConsistencyThreshold = 0.8

  val RelativeSizeLarge = 0.05
  val RelativeSizeMedium = 0.01
  val RelativeSizeSmall = 0.005
  val RelativeSizeTiny = 0.001

  val BorderWidth = 2
  val BorderCellThreshold = 0.3
}

/** reference: constants.py:186-228 (FormattingDetectionConstants). */
object FmtConst {
  val HeaderBoldThreshold = 0.7
  val BackgroundChangeThreshold = 0.3
  val BorderConsistencyThreshold = 0.8

  val NoBorders = "none"
  val AllBorders = "all"
  val OuterOnly = "outer"
  val HorizontalOnly = "horizontal"
  val VerticalOnly = "vertical"
  val MixedBorders = "mixed"
}

/** reference: constants.py:230-264 (Keywords). */
object Keywords {
  val Subtotal = Vector("subtotal", "sub-total")
  val GrandTotal = Vector("grand total", "total", "sum")
  val Section = Vector("section", "category", "group")
  val HierarchicalSubtotal =
    Vector("total", "subtotal", "sum", "sub-total", "grand total", "net", "gross", "overall")
}

/** Per-run extraction configuration. The reference's detection `Config`
  * (config.py:8-142 + detection.py:36-82) is a set of per-run knobs; here
  * they are fixed at the reference defaults, which is what every query,
  * tool and benchmark runs: confidence threshold 0.6 and the 0.5 %
  * relative-size filter ([[Cascade]]), min table size 2 × 2 ([[BoxTable]]),
  * adaptive island sizes, formatting-boundary splits and a one-row gap
  * tolerance ([[IslandDetector]]), simple-case and island detection on,
  * prefer-large ordering. The one setting left is `extractTables`.
  */
final case class DetectConfig(
    // run DataFrame extraction (header orientation/quality/shape) in the
    // kernel. OFF by default, mirroring the reference where detection and
    // DataFrameExtractor are separate stages and the published throughput
    // (1M+ cells/s) is detection-only; x_extract_tables turns it on.
    extractTables: Boolean = false
) extends Serializable {
  def maxHtmlBytes: Int = DetectConfig.MaxHtmlBytes
  def maxTablesPerSheet: Int = DetectConfig.MaxTablesPerSheet
}

/** The per-document cost bounds (SURVEY §2 P2/O4). */
object DetectConfig {
  /** Larger payloads become parse-failure rows without being decoded
    * (the reference's max_file_size_mb analogue for byte payloads).
    */
  val MaxHtmlBytes: Int = 64 * 1024 * 1024
  /** Tables kept per region (reference config max_tables_per_sheet). */
  val MaxTablesPerSheet: Int = 50
}
