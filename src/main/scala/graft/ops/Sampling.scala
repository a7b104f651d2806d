package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for corpus downsampling.
  *
  * Training-data pipelines downsample by HASH, never by `df.sample`:
  * `sample` draws from a per-partition RNG, so the selected set changes
  * with partitioning, task retries, and input split order — a retried
  * stage can silently produce a different corpus. A hash of a stable
  * column is reproducible across runs, partition counts, and executors,
  * can be re-derived later ("was this doc in the 1% slice?"), and
  * composes with incremental ingestion (new data lands in the same
  * slices).
  *
  * Scale notes (100 TB): [[bernoulliByHash]] is a pure map-side filter —
  * no shuffle, no state, prunes at full scan speed right behind the
  * parquet reader. [[stratifiedQuota]] is ONE shuffle on the stratum key;
  * the `row_number <= n` predicate is recognized by Spark's
  * WindowGroupLimit rule, which keeps only the top-n rows PER PARTITION
  * before the exchange (map-side partial limit), so the shuffle carries
  * O(strata × n) rows per input partition instead of the whole corpus —
  * the same partial→final shape as an aggregation.
  */
object Sampling {

  /** First hex nibble (0-15) of md5 of the stringified column — a
    * cross-engine-portable 4-bit hash for oracle-checked sampling surfaces.
    * Identical in Spark and DuckDB (md5 of the UTF-8 bytes, lowercase hex).
    * Production sampling would key on Spark's native `xxhash64` (any
    * deterministic hash column works); the query surface uses this one
    * because the DuckDB oracle must replay the hash bit-for-bit.
    */
  def md5Nibble(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 1), 16, 10).cast("int")

  /** Deterministic Bernoulli sampling: keep rows where
    * `pmod(hashCol, denom) < numer` — a stable numer/denom slice of the
    * corpus. Map-side only; rerunning at a larger `numer` yields a strict
    * SUPERSET of the smaller sample (nested slices — grow a training set
    * without re-drawing it).
    */
  def bernoulliByHash(df: DataFrame, hashCol: Column, numer: Int, denom: Int)
      : DataFrame = {
    require(denom > 0 && numer >= 0 && numer <= denom,
      s"need 0 <= numer <= denom, got $numer/$denom")
    df.filter(pmod(hashCol, lit(denom)) < lit(numer))
  }

  /** Deterministic stratified quota: the first `n` rows per stratum in
    * (hash, id) order — a fixed-size, reproducible per-stratum sample
    * (e.g. "50k docs per language"). The hash order makes the quota a
    * uniform draw within the stratum; the id tiebreak makes it total.
    * Output carries the stratum-local `sample_rank` (1-based).
    *
    * One shuffle on `stratumCol`; WindowGroupLimit bounds what crosses it
    * (see object scaladoc). Few-strata corpora (languages) make the final
    * per-stratum task the bottleneck at huge `n` — at that point shard the
    * stratum key by a hash prefix and take `n / shards` per shard.
    */
  def stratifiedQuota(df: DataFrame, stratumCol: Column, n: Int,
      hashCol: Column, idCol: Column): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val w = Window.partitionBy(stratumCol).orderBy(hashCol, idCol)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }
}
