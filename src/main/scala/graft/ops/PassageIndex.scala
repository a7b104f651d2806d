package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persistable passage-fingerprint index: the (doc_id, pos, fp) window
  * set of [[Dedup.passageFingerprints]] plus the window size that produced
  * it — what a production pipeline PERSISTS so each ingest screens its
  * batch against every passage the corpus already holds
  * ([[Dedup.passageMatchesAgainst]] / [[Dedup.stripPassagesAgainst]])
  * without ever re-fingerprinting the corpus. Scalar-only rows (8+4+8
  * bytes); the canonical one-row-per-fingerprint view used by the screens
  * is derived at query time ([[Dedup.canonicalPassageFps]]).
  */
final case class PassageIndex(fps: DataFrame, w: Int) {
  require(w > 0, "w > 0")
}

/** Parquet persistence for [[PassageIndex]] in the [[SegmentedManifest]]
  * store, pinning `w`: windows of different sizes are not comparable.
  */
object PassageIndex extends SegmentedManifest[PassageIndex, PassageIndex](
    "PassageIndex", Seq("w"), "fps" -> Seq("doc_id", "pos", "fp")) {
  protected def parts(idx: PassageIndex): (Seq[Int], Seq[DataFrame]) =
    (Seq(idx.w), Seq(idx.fps))
  protected def deltaParts(d: PassageIndex) = selfDelta(d)
  protected def build(spark: SparkSession, dir: String, params: Seq[Int],
      frames: Seq[DataFrame]): PassageIndex = PassageIndex(frames(0), params(0))
}
