package graft.ops

import org.apache.spark.sql.DataFrame

/** Materialization of multi-branch intermediates (the LSH/minhash signature
  * sets and the once-materialized corpus vectors, each feeding 2–4 plan
  * branches) and of iterative loop state (the per-round labels in
  * [[Dedup.connectedComponents]]).
  *
  * `localCheckpoint()` computes `df` once and truncates its lineage: the
  * result's plan is a single `LogicalRDD` leaf that no longer references
  * `df`'s plan, so a loop that feeds each round into the next stays one
  * round deep instead of growing with iterations.
  *
  * Durability policy: the blocks are executor-local and unreplicated
  * (auto-cleaned by the ContextCleaner). Losing an executor mid-query fails
  * the query, since truncated lineage cannot recompute the lost blocks; the
  * job has to be rerun.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = df.localCheckpoint()
}
