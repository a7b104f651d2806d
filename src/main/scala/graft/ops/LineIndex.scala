package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persistable line-fingerprint index: the (doc_id, line_no, fp) set of
  * [[Dedup.lineFingerprints]] — what a production pipeline PERSISTS so
  * each ingest screens its batch against every line the corpus already
  * holds ([[Dedup.lineMatchesAgainst]] / [[Dedup.stripLinesAgainst]])
  * without ever re-fingerprinting the corpus. Scalar-only rows (8+4+8
  * bytes); the canonical one-row-per-fingerprint view used by the screens
  * is derived at query time ([[Dedup.canonicalLineFps]]). Unlike
  * [[PassageIndex]] there is no window-size parameter: the line
  * normalization (lower + trim of space/tab/CR) is fixed by contract.
  */
final case class LineIndex(fps: DataFrame)

/** Parquet persistence for [[LineIndex]] in the [[SegmentedManifest]] store. */
object LineIndex extends SegmentedManifest[LineIndex, LineIndex](
    "LineIndex", Seq.empty, "fps" -> Seq("doc_id", "line_no", "fp")) {
  protected def parts(idx: LineIndex): (Seq[Int], Seq[DataFrame]) = (Nil, Seq(idx.fps))
  protected def deltaParts(d: LineIndex) = selfDelta(d)
  protected def build(spark: SparkSession, dir: String, params: Seq[Int],
      frames: Seq[DataFrame]): LineIndex = LineIndex(frames(0))
}
