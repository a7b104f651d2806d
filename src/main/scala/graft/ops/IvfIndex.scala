package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A prebuilt IVF (inverted-file) ANN index: the trained centroid matrix
  * plus the assigned corpus — (neighbor_id long, cvec array<float>,
  * cell int), one row per vector with its nearest-centroid cell id.
  *
  * This is the FAISS train-once / add-many shape: centroids are trained
  * ONCE on a bounded sample and then frozen; new vectors are assigned
  * map-side against the frozen centroids ([[Similarity.assignVectors]])
  * and appended — retraining is an explicit rebuild, never an implicit
  * side effect of ingest. A search from a loaded index plans NO
  * assignment expression over the corpus at all (the cell ids are data);
  * only the (tiny) query set pays the probe computation at search time.
  */
final case class IvfIndex(
    centroids: Array[Array[Double]],
    assigned: DataFrame,
    nList: Int) {
  require(centroids.nonEmpty, "IvfIndex needs at least one centroid")
}

/** Parquet persistence for [[IvfIndex]] in the [[SegmentedManifest]]
  * store, pinning `n_list`. The centroids sit beside the segments in
  * `centroids/` as parquet rows (cell, vec array<double>) — bit-exact
  * doubles, no text round-trip — written once by [[write]] and frozen:
  * compaction and vacuum never touch them. An append delta is an assigned
  * frame that must be assigned against THIS index's centroids
  * ([[Similarity.assignVectors]] on a loaded index); cell ids from
  * different centroids are not comparable.
  */
object IvfIndex extends SegmentedManifest[IvfIndex, DataFrame](
    "IvfIndex", Seq("n_list"), "assigned" -> Seq("neighbor_id", "cvec", "cell")) {

  protected def parts(idx: IvfIndex): (Seq[Int], Seq[DataFrame]) =
    (Seq(idx.nList), Seq(idx.assigned))
  protected def deltaParts(delta: DataFrame): (Option[Seq[Int]], Seq[DataFrame]) =
    (None, Seq(delta))

  /** The frozen centroids first, then the store's `base` segment and manifest. */
  override def write(idx: IvfIndex, dir: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    idx.centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      // one file: the centroid matrix is <= nList rows by construction
      // (driver-held at search time), so a file per local-relation slice
      // is pure small-file overhead on every load (guide §6)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    super.write(idx, dir)
  }

  /** Centroids load into the driver-side matrix (search plans carry it). */
  protected def build(spark: SparkSession, dir: String, params: Seq[Int],
      frames: Seq[DataFrame]): IvfIndex = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    // trainCentroids emits min(nList, sample size) centroids, never more
    require(cents.length <= params(0),
      s"centroid count ${cents.length} exceeds n_list ${params(0)}")
    IvfIndex(cents, frames(0), params(0))
  }
}
