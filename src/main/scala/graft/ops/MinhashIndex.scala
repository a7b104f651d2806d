package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A MinHash-LSH corpus index: the signature set plus the banded candidate
  * index, with the parameters that produced them.
  *
  *  - `sigs`: (id long, sig array<long>) — one row per content-bearing doc
  *    (content-free docs have no signature and are absent by construction).
  *  - `banded`: (id long, band int, bhash long) — `bands` rows per doc, the
  *    8-byte band-fold hashes. This is the candidate index: near-dup
  *    candidates are ids sharing any (band, bhash) key. Scalar-only — at
  *    ingest scale this is what crosses the wire, never signatures or text.
  *
  * This is the artifact a production near-dedup pipeline PERSISTS between
  * ingests ([[MinhashIndex.write]] / [[MinhashIndex.load]]): signatures are
  * a pure function of doc text, so recomputing them for an unchanged corpus
  * on every daily batch is O(corpus) tokenize+shingle map work paid for no
  * new information. A persisted index makes each ingest O(batch) map work +
  * O(batch × collision rate) join work ([[Dedup.minhashPairsBetween]]).
  */
final case class MinhashIndex(
    sigs: DataFrame,
    banded: DataFrame,
    k: Int,
    bands: Int,
    shingleN: Int) {
  MinhashIndex.checkParams(k, bands, shingleN)
}

/** Parquet persistence for [[MinhashIndex]] in the [[SegmentedManifest]]
  * store, pinning (k, bands, shingle_n): signatures built under different
  * parameters are not comparable.
  */
object MinhashIndex extends SegmentedManifest[MinhashIndex, MinhashIndex](
    "MinhashIndex", Seq("k", "bands", "shingle_n"),
    "sigs" -> Seq("id", "sig"), "banded" -> Seq("id", "band", "bhash")) {

  /** The one MinHash parameter rule, shared by every operator taking
    * (k, bands, shingleN) and run at its entry, before any Spark job:
    * `bands` equal, non-empty slices of a non-empty signature, over
    * non-empty shingles (a shingle of `shingleN <= 0` tokens hashes no
    * text, so every doc would get the same signature and the whole corpus
    * would become one near-duplicate class).
    */
  def checkParams(k: Int, bands: Int, shingleN: Int): Unit = {
    require(k > 0 && bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands")
    require(shingleN > 0, s"shingleN > 0, got $shingleN")
  }

  protected def parts(idx: MinhashIndex): (Seq[Int], Seq[DataFrame]) =
    (Seq(idx.k, idx.bands, idx.shingleN), Seq(idx.sigs, idx.banded))
  protected def deltaParts(d: MinhashIndex) = selfDelta(d)
  protected def build(spark: SparkSession, dir: String, params: Seq[Int],
      frames: Seq[DataFrame]): MinhashIndex =
    MinhashIndex(frames(0), frames(1), params(0), params(1), params(2))
}
