package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Scale-adaptive parallelism for compute-heavy narrow stages (guide §1.2
 * step 1 / §2.5 "input skew": one huge-or-tiny unsplittable input starves
 * the stage).
 *
 * A projection or generator whose per-row cost dominates (regex tokenize,
 * interpreted higher-order functions, shingle assembly) runs in the SCAN
 * stage, whose parallelism equals the number of input splits. When the
 * input is smaller than one split per core — the norm for dimension-sized
 * tables — the whole stage executes in one or two tasks while the rest of
 * the machine idles: measured 3.7 s single-task vs 0.57 s fanned out for
 * the 5-gram shingle pass over the 5 k-doc table (OPTIMIZATION_r06.md
 * "The two structural findings", round 6).
 *
 * The decision is derived from the INPUT SIZE (optimizer stats), not a
 * constant: fan out only when the estimated bytes are below
 * cores × maxPartitionBytes, i.e. exactly when the scan cannot fill the
 * machine on its own. At production scale the branch is a no-op — a corpus
 * of any real size yields ≥ cores splits — so no shuffle is ever added to
 * a large input, and in the small case the shuffled bytes are bounded by
 * cores × maxPartitionBytes. Unknown sizes (stats unavailable) report
 * huge and are left untouched — the safe direction.
 */
object Par {

  /** Round-robin repartition `df` to the session default parallelism iff
   * its estimated size is below cores × maxPartitionBytes. Row set is
   * unchanged (keyless repartition; Spark's sort-before-repartition keeps
   * the assignment deterministic under task retry). Call on scan-rooted
   * frames (before the expensive projection), not on post-shuffle frames —
   * those already run at shuffle parallelism. */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxSplit) * cores) df.repartition(cores) else df
  }

  /** [[fanOut]] variant that hash-partitions by `keys` instead of round-
   * robin: downstream aggregations whose grouping keys CONTAIN `keys` then
   * plan exchange-free (HashPartitioning(keys) satisfies any clustering
   * that is a superset), so one cheap exchange of the narrow input replaces
   * several exchanges of the much wider generated stream. Same size guard:
   * a no-op at production input sizes. Skew bound: one partition holds at
   * most the rows of `cores`-th of the key space — for unique row keys
   * (doc ids) this is the same balance as round-robin. */
  def fanOutBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxSplit) * cores) df.repartition(cores, keys: _*) else df
  }
}
