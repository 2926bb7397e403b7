package graft.ops

import org.apache.spark.sql.DataFrame

/** Join-strategy pin for CORPUS-DERIVED build sides (gram/span/vocab/
  * rank tables whose cardinality tracks the corpus).
  *
  * Why a pin at all: Catalyst's static size estimates under explode
  * amplification repeatedly mis-plan these joins as broadcasts, which
  * funnel the whole table through the driver (SCALE.md findings one,
  * four, five — measured 128-243 MB driver growth per 10× step).
  *
  * Why sort-merge and not shuffled-hash: the 100× forced probe OOM'd
  * the novelty rung's hash build ("not enough memory to build hash
  * map") — a shuffled-hash pin trades the driver-broadcast failure for
  * a task-memory one the moment build-side-per-partition exceeds the
  * task's execution-memory share (fixed partition count, or any hot
  * key). Sort-merge reuses the same key partitioning, never
  * broadcasts, and SPILLS GRACEFULLY — the only strategy whose memory
  * is bounded at every scale and every skew (SCALE.md seventh
  * finding). Shuffled-hash stays the right choice only for tables
  * with a PROVEN bound (k-means centroids, top-k heads — which are
  * broadcast anyway).
  */
object Joins {

  /** Hint `df` as a corpus-derived join side: sort-merge. */
  def corpusSide(df: DataFrame): DataFrame = df.hint("merge")

  /** Input-layout-adaptive parallelism for compute-heavy map chains
    * (optimization guide §2.5, "input skew: one huge unsplittable file
    * … repartition immediately after the read"): a parquet file with a
    * single row group is indivisible — the scan yields ONE task no
    * matter how many cores the cluster has, so a scan-rooted narrow
    * chain (chunk explode + per-token md5 vectorization, per-doc×query
    * BM25 scoring) runs single-threaded end to end. That is exactly the
    * fixture's layout (verified via parquet footers, r15 scaling
    * adjudication), and it is a real production shape too (gzip'd
    * text, badly compacted bronze tables).
    *
    * When the physical scan yields at most half the session's
    * parallelism, hash-repartition on `key` (deterministic placement —
    * no round-robin, so no sort-before-repartition cost and no
    * retry-duplication hazard, guide §2.5) so the downstream map work
    * uses the cluster. On healthy many-row-group inputs the guard
    * makes this a NO-OP — no extra exchange ever reaches a production
    * plan. Every caller's result is partitioning-independent by
    * engine-wide construction (integer-quantized sums, bounded heaps
    * with total orders), so rows are identical either way — the
    * oracles enforce it.
    *
    * Cost model (measured r16, sf0.1, 32 cores): the repartition
    * shuffles the small doc table once (~MBs) and cut the chunk-embed
    * pass 0.85→0.38 s; gated off, it costs nothing. */
  def parallelizeScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val target = sc.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target, key)
    else df
  }
}
