package graft

import graft.queries.Queries

/** Plan-shape regression tests: the scale posture (pushdown, broadcast,
  * partial aggregation, no sort-merge fallback) asserted against the
  * actual physical plans, so a refactor that silently de-optimizes a
  * query fails CI rather than a future benchmark. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Queries.runners(name)(spark, dir)
    df.queryExecution.executedPlan.toString()
  }

  test("q1_agg: ship-date filter is pushed to the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1_agg: column pruning — scan reads only the needed columns") {
    val p = plan("q1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema) // not referenced
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q_enrich_join: dimension side is a broadcast hash join, not sort-merge") {
    val p = plan("q_enrich_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join must not shuffle the fact side")
  }

  test("q5_join: six-way snowflake resolves to broadcast joins only") {
    val p = plan("q5_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "all dims are broadcastable; the fact table must not shuffle pre-agg")
  }

  test("q_hourly_rollup: partial+final hash aggregation (map-side combine)") {
    val p = plan("q_hourly_rollup")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got:\n${p.take(1500)}")
  }

  test("q_topk_custom_agg: bounded_top_k runs as partial+final aggregation") {
    val p = plan("q_topk_custom_agg")
    assert(p.contains("bounded_top_k"), p.take(1500))
    val aggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bounded_top_k"))
    assert(aggs >= 2, s"expected partial+final bounded_top_k:\n${p.take(1500)}")
  }

  test("q_token_count: text derivation stays whole-stage-codegen'd, no exchange") {
    val df = Queries.runners("q_token_count")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*(1)"), p.take(1000)) // the WholeStageCodegen marker
    assert(!p.contains("Exchange"), "a pure per-row map must not shuffle")
  }

  test("partitioned corpus write prunes partitions on read (O5)") {
    val base = tmpDir("prune")
    Queries.runners("q_corpus_clean")(spark, dir)
      .write.partitionBy("lang_pred").parquet(s"$base/corpus")
    val read = spark.read.parquet(s"$base/corpus")
      .filter(org.apache.spark.sql.functions.col("lang_pred") === "en")
    val plan = read.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(lang_pred"), plan.take(1200))
    assert(read.count() > 0)
  }

  test("q_correlated_max: no broadcast fed by an aggregate (window form)") {
    // the per-user max must NOT be computed as a groupBy + broadcast
    // join-back: that broadcasts one row per user — unbounded at fact
    // scale. The window formulation has exactly one exchange (on
    // user_id) and no broadcast at all.
    val p = plan("q_correlated_max")
    assert(!p.contains("BroadcastExchange"), p.take(1500))
    assert(p.contains("Window"), p.take(1500))
  }

  test("q_dedup_embedding_lsh: no cartesian product anywhere in the plan") {
    // the whole point of the LSH variant: candidates come from a
    // bucket-equality join, never an all-pairs theta join
    val p = plan("q_dedup_embedding_lsh")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q_seq_pack: no global single-partition window over the corpus") {
    // the doc-level running sum must be partitioned by bucket; the only
    // unpartitioned window runs over the tiny per-bucket offsets table
    val df = Queries.runners("q_seq_pack")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    val globalWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("ORDER BY") &&
      !l.contains("PARTITION BY") && !l.contains("__bkt ASC")).toList
    assert(p.contains("Window"), p.take(800))
    // the per-doc window must carry a PARTITION BY __bkt
    assert(p.contains("partitionBy") || p.contains("PartitionSpec") ||
      p.linesIterator.exists(l => l.contains("Window") && l.contains("__bkt")), p.take(2000))
  }

  test("q_seq_pack: the bucket-offsets join is sort-merge, never a broadcast") {
    // the offsets table has |max doc_id| / bucketSize rows, so it is
    // corpus-derived: the Joins.corpusSide policy forbids broadcasting
    // it (the pack twins pin the same table to sort-merge). Checked on
    // the final adaptive plan, after runtime re-planning.
    val df = Queries.runners("q_seq_pack")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("BroadcastHashJoin"),
      s"the offsets join must not broadcast:\n${p.take(2500)}")
  }

  test("q_split_assign: pure per-row map, no exchange") {
    val df = Queries.runners("q_split_assign")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), "hash split must not shuffle")
  }

  test("q_bm25_topk: stats broadcast back over the corpus, top-k is TakeOrdered") {
    val p = plan("q_bm25_topk")
    // corpus side never shuffles: the only join is the broadcast of the
    // one-row stats aggregate, and the global top-k is TakeOrdered (heap
    // per partition + driver merge), not a global sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for a scalar join")
  }

  test("q_stratified_sample: pure per-row filter, no exchange") {
    val p = plan("q_stratified_sample")
    assert(!p.contains("Exchange"), "hash sampling must not shuffle")
  }

  test("q_pii_redact: per-row regex maps stay whole-stage-codegen'd, no exchange") {
    val p = plan("q_pii_redact")
    assert(!p.contains("Exchange"), "redaction must not shuffle")
    assert(p.contains("*(1)"), p.take(800)) // the WholeStageCodegen marker
  }

  test("q_training_pipeline: composed stages add no cartesian and no global corpus window") {
    val p = plan("q_training_pipeline")
    assert(!p.contains("CartesianProduct"), "no stage may cartesian the corpus")
    // the packing window must be partitioned by bucket (two-phase prefix
    // sum) — same invariant as q_seq_pack, preserved through composition
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("__bkt")),
      p.take(2000))
  }

  test("q_asof_join: union+window form — no join operator, no row explosion") {
    // the naive formulation (theta join on key AND ts range, then max)
    // explodes to |versions|x|events| rows per key; the as-of must
    // compile to union + ONE keyed window, with no join at all
    val df = Queries.runners("q_asof_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("Window"), p.take(1000))
    assert(!p.contains("Join"), "as-of must not use a join operator:\n" + p.take(2000))
  }

  test("q_range_join: bucketed equi-join, never a nested-loop theta join") {
    val df = Queries.runners("q_range_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("Join"), p.take(1500)) // it IS a (hash/merge) join
  }

  test("q_dedup_minhash: signature stage has no exchange below the band join") {
    // the signature computation is map-only; the first exchange in the
    // plan must belong to the candidate-pair join, not the signatures
    val p = plan("q_dedup_minhash")
    assert(p.contains("Exchange") || p.contains("BroadcastExchange"), p.take(500))
    // sanity: no sort-based aggregation crept into the hash path
    assert(!p.contains("SortAggregate"), "minhash must stay hash/map based")
  }

  test("q_decontaminate: eval grams broadcast — the corpus side never sort-merges") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "gram match must broadcast the (small) eval side, not shuffle the corpus:\n" +
        p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_dict_hierarchy: every hop of the dictionary resolution broadcasts") {
    // 8 self-broadcast hops + the closure joining back to the fact
    // rollup — the dictionary side must broadcast at EVERY level and
    // the fact side must never sort-merge
    val p = plan("q_dict_hierarchy")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 9, s"expected >= 9 broadcast joins (8 hops + fact join), got $bhj:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "dictionary resolution must never shuffle-join:\n" + p.take(2000))
  }

  test("q_dict_range: the range probe broadcasts; the fact side never shuffles") {
    // range_hashed contract: the argmax lives in the DICTIONARY
    // (segment decomposition — dict-sized windows are fine), and the
    // fact probe is one broadcast join. A SortMergeJoin anywhere means
    // the fact table shuffled for a dictionary lookup.
    val p = plan("q_dict_range")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "range dictionary probe must never shuffle-join:\n" + p.take(2000))
  }

  test("q_mix_weights: one tiny aggregate + broadcast scalar, no sort-merge join") {
    val p = plan("q_mix_weights")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "budget scalar must broadcast:\n" + p.take(2000))
  }

  test("q_gram_dup_rate: gram DF aggregates with map-side partials") {
    val p = plan("q_gram_dup_rate")
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_unigram_logprob: vocab count is partial+final hash aggregation") {
    val p = plan("q_unigram_logprob")
    // map-side combine on the token explode: partial_count before the
    // exchange, merge/final after — the shuffle carries vocabulary
    // volume, not corpus volume
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(3000))
    assert(!p.contains("SortAggregate"), "vocab agg must stay hash-based")
  }

  test("q_para_dedup: first-occurrence is a hash aggregate, never a sort") {
    val p = plan("q_para_dedup")
    // the packed BIGINT order key keeps min() in the hash-agg codegen
    // path; a struct min would silently fall back to SortAggregate
    assert(!p.contains("SortAggregate"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_funnel: stage chain is hash aggregates, no cartesian, no corpus window") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortAggregate"), p.take(3000))
    // no single-partition window anywhere (levels come from joins+aggs)
    assert(!p.contains("Window"), "funnel must not use window functions")
  }

  test("q_ppl_buckets: tertile cuts broadcast — no global ntile window") {
    val p = plan("q_ppl_buckets")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(!p.contains("Window"), "bucketing must not sort the corpus globally")
  }

  test("saltedJoin: with broadcast disabled, the join keys include the salt") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("partkey"), col("l_extendedprice"),
          col("l_orderkey"))
      val dim = Tables.part(spark, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      val p = graft.ops.Skew.saltedJoin(fact, dim, "partkey",
          saltSrc = col("l_orderkey"), buckets = 8)
        .queryExecution.executedPlan.toString()
      // the shuffle join must key on (partkey, __salt) so a hot partkey
      // spreads over 8 reducers
      assert(p.contains("__salt"), p.take(3000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_chunk_overlap: pure generate+project, no exchange at all") {
    val p = plan("q_chunk_overlap")
    assert(p.contains("Generate"), p.take(1000))
    assert(!p.contains("Exchange"), "chunking must be a narrow map stage")
  }

  test("q_dsir_weights: corpus exploded exactly twice, ratio table broadcast") {
    val p = plan("q_dsir_weights")
    // one token explode for the bucket stats pass, one for scoring —
    // a third Generate means the totals branch regressed to a corpus pass
    val explodes = p.linesIterator.count(l =>
      l.contains("Generate explode"))
    assert(explodes === 2, s"expected 2 corpus explodes, got $explodes:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), "bucket ratios must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for the 64-row ratio join")
  }

  test("q_tfidf_topterms: per-doc top-k runs through WindowGroupLimit") {
    val p = plan("q_tfidf_topterms")
    // rank<=k is pushed into the window operator (partial top-k before
    // the doc_id exchange), not applied as a post-sort filter
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_prefixjoin: candidate/verify joins never broadcast or " +
      "cartesian the corpus") {
    // every join side is corpus-derived (prefix streams, token lists) —
    // the shuffle-hash/merge pins must hold against static misestimates
    // (SCALE.md findings 1/4/5); a BroadcastExchange here is a
    // corpus-sized build at 100 TB
    val p = plan("q_dedup_prefixjoin")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "all prefix-join sides are corpus-proportional — none may broadcast:\n" +
        p.take(3000))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("q_quality_ensemble: three-signal gate fuses into one narrow map " +
      "stage — zero joins, zero exchanges") {
    // gopher signals, the quality score, and the fitted classifier are
    // all per-row expressions; a join or shuffle here means a signal
    // regressed to a corpus-keyed computation
    val p = plan("q_quality_ensemble")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("q_logreg_classify: scoring is a pure narrow map — literal weight " +
      "map, zero joins, zero exchanges") {
    // training runs eagerly inside the builder (bounded 65-row collects
    // per pass); the RETURNED scoring plan carries the model as a
    // literal map, so it must be scan → project with no shuffle at all
    val p = plan("q_logreg_classify")
    assert(!p.contains("Join"), "scoring must not join:\n" + p.take(2000))
    assert(!p.contains("Exchange"),
      "scoring must be a narrow map stage:\n" + p.take(2000))
  }

  test("q_attribution_join: interval join is keyed on user_id — no nested loop") {
    // the equi key must carry the join; the time bounds are post-filters
    // on a keyed join, never a CartesianProduct / BNLJ over the streams
    val p = plan("q_attribution_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_gap_fill: the grid⋈obs join is sort-merge, never a corpus broadcast") {
    // both sides track keys × days; Catalyst's static estimate would
    // broadcast the aggregate side without the corpusSide pin
    val p = plan("q_gap_fill")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "gap-fill must not broadcast a corpus-derived side:\n" + p.take(2000))
  }

  test("q_seq_count: one user-partitioned window, no global sort") {
    val p = plan("q_seq_count")
    // the running-deficit window must partition by user: a global
    // (unpartitioned) window would force a SinglePartition exchange
    assert(p.contains("Window"), p.take(1000))
    assert(!p.contains("SinglePartition"),
      "window must partition by user, not run globally:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "sequence count is window+agg only, no join:\n" + p.take(1500))
  }

  test("q_max_concurrency: phase-1 windows partition by bucket; only the carry table sorts globally") {
    val p = plan("q_max_concurrency")
    // exactly one single-partition exchange is allowed — the |buckets|
    // carry table in phase 2 (plus Spark's final 1-row result collects)
    val singleParts = p.linesIterator.count(_.contains("SinglePartition"))
    assert(p.contains("Window"), p.take(1000))
    assert(singleParts <= 2,
      s"expected at most the carry-table + result single-partition exchanges, got $singleParts:\n" +
        p.linesIterator.filter(_.contains("SinglePartition")).mkString("\n"))
  }

  test("q_moving_agg and q_weighted_quantile: raw rows reduced by hash agg before any window") {
    for (name <- Seq("q_moving_agg", "q_weighted_quantile")) {
      val p = plan(name)
      val lines = p.linesIterator.toList
      val winIdx = lines.indexWhere(_.contains("Window"))
      assert(winIdx >= 0, s"$name: ${p.take(800)}")
      // plans print top-down: a HashAggregate BELOW the window line
      // means the window consumes the aggregated (compressed-domain)
      // table, not the raw event rows
      assert(lines.drop(winIdx).exists(_.contains("HashAggregate")),
        s"$name: window must consume the aggregate, not raw rows:\n" +
          lines.slice(winIdx, winIdx + 8).mkString("\n"))
    }
  }

  test("q_quantile_tdigest: one data-sized hash agg feeds bounded windows; no sort-merge") {
    val p = plan("q_quantile_tdigest")
    val lines = p.linesIterator.toList
    // the ONLY stage that sees event volume is the grid-histogram hash
    // aggregate (map-side combinable: partial+final pair below every
    // window); the windows and joins after it run on the ≤29k-counter
    // state / ≤64-centroid digest
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, p.take(800))
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")),
      "windows must consume the sketch state, not raw rows:\n" +
        lines.slice(winIdx, winIdx + 8).mkString("\n"))
    val hashAggs = lines.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final grid aggregate:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "tot/quantile sides are broadcast; nothing may shuffle the state")
  }

  test("q_welch_ttest: one partial+final hash aggregate, no window, no join") {
    val p = plan("q_welch_ttest")
    assert(!p.contains("WindowExec") && !p.contains("Join"), p.take(2000))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n${p.take(1500)}")
  }

  test("q_mann_whitney: bucketed cumulative — every WindowExec is partitioned") {
    val p = plan("q_mann_whitney")
    // the only permitted unpartitioned window is the |buckets|-row
    // carry; it must sit on an Exchange SinglePartition over an
    // ALREADY-AGGREGATED input, never over the raw distinct-value table
    val lines = p.linesIterator.toSeq
    val winSpecs = lines.filter(_.contains("windowspecdefinition"))
    assert(winSpecs.nonEmpty, p.take(1500))
    // raw per-value cumulative must be partitioned by bucket b
    assert(winSpecs.exists(_.contains("b#")),
      s"no bucket-partitioned window found:\n${winSpecs.mkString("\n")}")
  }

  test("q_rank_corr: rank-table joins are sort-merge (corpus pin), not broadcast") {
    val p = plan("q_rank_corr")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "event-proportional rank tables must never broadcast")
  }

  test("q_lttb: centroid join honors the corpus pin; argmax is a hash aggregate") {
    val p = plan("q_lttb")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    // the per-bucket argmax must be an aggregate (max(struct)), not a
    // per-point window
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate") ||
        l.contains("ObjectHashAggregate"))
    assert(aggs >= 2, s"expected aggregate argmax:\n${p.take(1500)}")
  }

  test("q_corr_matrix: ONE corpus scan feeds every pair — no per-pair rescans") {
    val p = plan("q_corr_matrix")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"expected a single events scan, got $scans:\n${p.take(1500)}")
    assert(!p.contains("WindowExec") && !p.contains("Join"), p.take(1500))
  }

  test("q_bitmap_overlap: bit_or builds combine map-side; no window, bounded broadcasts") {
    val p = plan("q_bitmap_overlap")
    // the (key, w) bitmap build must be partial+final
    val bitOrAggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bit_or"))
    assert(bitOrAggs >= 2, s"expected partial+final bit_or:\n${p.take(1500)}")
    assert(!p.contains("WindowExec"), p.take(1500))
    // the word-aligned intersection must honor the corpus pin
    assert(p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_series_period: lag fanout aggregates partial+final; windows only on the series grid") {
    val p = plan("q_series_period")
    assert(!p.contains("WindowExec"),
      s"period detection is pure joins+aggregates:\n${p.take(1500)}")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 4, s"expected chained partial+final aggs:\n${p.take(1500)}")
  }

  test("q_funnel_strict: breaker checks stay user-keyed — no window, no broadcast of survivors") {
    val p = plan("q_funnel_strict")
    assert(!p.contains("WindowExec"), p.take(1500))
    assert(p.contains("SortMergeJoin"),
      "survivor/breaker joins must honor the corpus pin")
  }

  test("q_any_join: reduce-then-join — right side collapses via hash agg, NO window-rank") {
    val p = plan("q_any_join")
    assert(!p.contains("WindowExec"),
      s"ANY JOIN must never rank the joined fanout:\n${p.take(1500)}")
    // min(struct) buffers a struct -> plans as SortAggregate; the
    // partial+final split (map-side combine) is what matters.
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("SortAggregate"))
    assert(aggs >= 2, s"expected partial+final min(struct) agg:\n${p.take(1500)}")
  }

  test("q_point_in_polygon: pure projection — no exchange, no join, no aggregate") {
    val p = plan("q_point_in_polygon")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("HashAggregate"),
      s"crossing test must stay a per-row map:\n${p.take(1500)}")
    // executedPlan.toString renders whole-stage codegen spans as *(n)
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), p.take(800))
  }

  test("q_kmv_distinct: kmv_sketch aggregates partial+final (map-side combinable)") {
    val p = plan("q_kmv_distinct")
    val objAggs = p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
    assert(objAggs >= 2,
      s"expected partial+final kmv_sketch aggregation:\n${p.take(1500)}")
    assert(!p.contains("WindowExec"), "no per-key global rank may appear")
  }

  test("q_bit_agg: single partial+final hash agg, no shuffle beyond the group-by") {
    val p = plan("q_bit_agg")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, p.take(1500))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"one group-by shuffle (+AQE read) at most:\n${p.take(1500)}")
  }

  test("q_limit_by: bounded-heap rank + join-back, never a window sort") {
    val p = plan("q_limit_by")
    assert(p.contains("bounded_top_k"), p.take(1200))
    assert(!p.contains("Window"),
      "per-group pagination must not buffer groups in WindowExec")
  }

  test("q_limit_with_ties: bounded-heap boundary + filter, never a window sort") {
    val p = plan("q_limit_with_ties")
    assert(p.contains("bounded_top_k"), p.take(1200))
    assert(!p.contains("Window"),
      "WITH TIES must keep limitBy's no-window discipline")
  }

  test("q_pack_sequences: every WindowExec is partitioned except the bucket carry") {
    // the prefix sum is the two-phase bucketed cumulative: per-bucket
    // windows partition by b; only the <=|buckets|-row carry may run
    // single-partition (the q_quantile_interp contract)
    val p = plan("q_pack_sequences")
    val lines = p.linesIterator.toList
    assert(lines.exists(_.contains("Window")), p.take(800))
    val singleParts = lines.count(_.contains("SinglePartition"))
    assert(singleParts <= 2,
      s"expected at most the carry + result single-partition stages, got " +
        s"$singleParts:\n${lines.filter(_.contains("SinglePartition")).mkString("\n")}")
  }

  test("q_epoch_apply: the plan broadcasts; the corpus never sort-merges") {
    val p = plan("q_epoch_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "the strata plan is dimension-sized; the corpus must not shuffle:\n" +
        p.take(1500))
  }

  test("q_curriculum_shards: decile cuts broadcast as one array onto the corpus") {
    val p = plan("q_curriculum_shards")
    // the assignment join must be the broadcast of the one-row cut
    // array (the cut COMPUTATION inside weightedQuantiles keeps its
    // own pinned corpus-side sort-merge carry join — that one is the
    // two-phase cumulative's contract, not a corpus shuffle)
    assert(p.contains("BroadcastNestedLoopJoin") &&
        p.contains("collect_list"),
      "the cut array must broadcast onto the corpus scan:\n" + p.take(1500))
  }

  test("q_sample_clause: the hash cut reaches the scan as a plain filter") {
    val p = plan("q_sample_clause")
    // one group-by shuffle for the counts; the sample itself adds none
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"sample must stay a per-row filter:\n${p.take(1500)}")
    assert(!p.contains("Join"), "SAMPLE is not a join")
  }

  test("q_kmv_setops: one data-scan aggregate; pair join runs on the sketch table") {
    val p = plan("q_kmv_setops")
    val objAggs = p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
    assert(objAggs >= 2,
      s"expected partial+final kmv_sketch aggregation:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "the g_a < g_b pair join must stay a (broadcast) NL join over the " +
        "sketch rows, never a fact-side cartesian")
  }

  test("q_cuped: two hash aggregates + broadcast midpoint, no window/sort") {
    val p = plan("q_cuped")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row midpoint must broadcast:\n${p.take(1500)}")
    assert(!p.contains("Window"), "CUPED is pure aggregation")
    assert(!p.contains("SortMergeJoin"), "nothing may shuffle-join the fact")
  }

  test("q_quantile_interp: bucketed cumulative — every WindowExec is partitioned except the carry") {
    val p = plan("q_quantile_interp")
    // phase-1 window partitions by bucket; the only unpartitioned
    // window is the <=|buckets|-row carry (the documented two-phase
    // contract shared with q_weighted_quantile)
    val unpart = p.linesIterator.count(l =>
      l.contains("Window") && !l.contains("partitionBy") &&
        !l.contains("PartitionBy"))
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"), "probes broadcast, never cartesian")
  }

  test("q_min_sample_continuous: one partial+final hash aggregate, no join") {
    val p = plan("q_min_sample_continuous")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, p.take(1200))
    assert(!p.contains("Join") && !p.contains("Window"),
      "power planning is pure aggregation")
  }

  test("q_geo_radius_join: stencil join only — refine adds no exchange, no cartesian, no window") {
    val p = plan("q_geo_radius_join")
    assert(!p.contains("CartesianProduct"),
      s"radius refine must ride the cell-key join:\n${p.take(1500)}")
    assert(!p.contains("Window"), p.take(1200))
    // exchanges: left/right stencil-key repartitions (+AQE reads) only —
    // the haversine refine is a projection and must add none
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"refine added a shuffle:\n${p.take(1500)}")
  }

  test("q_geo_distance: pure map-stage scalar math — no shuffle, no join, codegen'd") {
    val p = plan("q_geo_distance")
    assert(!p.contains("Exchange"),
      s"per-row haversine must not shuffle:\n${p.take(1200)}")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
    assert(p.contains("*(1)"), "polynomial trig must stay whole-stage codegen")
  }

  test("q_exp_decay: raw rows hash-agg once; the window runs on bucket rows") {
    val p = plan("q_exp_decay")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    // partial+final for phase 1 (events→buckets) and phase 2 (key agg)
    assert(hashAggs >= 3, s"expected bucket + final hash aggs:\n${p.take(1500)}")
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("q_ann_lsh_topk: the corpus bucket join is sort-merge, never a corpus broadcast") {
    // the ann_recall_lsh rung caught Catalyst broadcasting the CORPUS
    // side of this join at 300k vectors (40 MB of vectors through the
    // driver) while flipping to sort-merge at 2M — pin the shape so
    // the corpus side can never be collected again. The query-side
    // explode (nPlanes+1 probes) stays tiny and may sit anywhere.
    val p = plan("q_ann_lsh_topk")
    assert(p.contains("SortMergeJoin"),
      s"bucket join must be the pinned sort-merge:\n${p.take(1500)}")
    assertHeapRerank(p, "q_ann_lsh_topk")
  }

  /** The round-14 family pin: every ANN candidate re-rank runs as the
    * bounded_top_k partial+final aggregation, NEVER a WindowExec over
    * the scored candidate stream — per-query candidates grow linearly
    * with the corpus (bucket population / corpus÷nCells × nProbe), so
    * a window group here is unbounded task memory at scale (the brute
    * path measured ~2 GB/task at 300k; the IVF-PQ ADC re-rank spilled
    * 0.7–3.6 GB at the 2M rung before the migration). */
  private def assertHeapRerank(p: String, name: String): Unit = {
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"$name must not buffer candidate groups in WindowExec:\n${p.take(1500)}")
    val heapAggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bounded_top_k"))
    assert(heapAggs >= 2,
      s"$name: expected partial+final bounded_top_k:\n${p.take(1500)}")
  }

  test("q_ann_ivf_topk: heap re-rank, no window anywhere in the IVF plan") {
    assertHeapRerank(plan("q_ann_ivf_topk"), "q_ann_ivf_topk")
  }

  test("q_ivf_pq_topk: the ADC re-rank is the bounded heap (the 2M-rung spill shape)") {
    assertHeapRerank(plan("q_ivf_pq_topk"), "q_ivf_pq_topk")
  }

  test("q_hard_negatives: heap re-rank; the label join-back broadcasts the head") {
    val p = plan("q_hard_negatives")
    assertHeapRerank(p, "q_hard_negatives")
    // the mined-label re-attach must broadcast the ≤k×|queries| head
    // onto the corpus scan, never shuffle corpus labels to serve it
    assert(p.contains("BroadcastHashJoin"),
      s"head⋈labels must broadcast the head:\n${p.take(1500)}")
  }

  test("q_knn_classify: heap top-k + aggregate election — no window at all") {
    assertHeapRerank(plan("q_knn_classify"), "q_knn_classify")
  }

  test("q_rag_pipeline: the chunk re-rank is the bounded heap (r14 verdict #2)") {
    // the last window-form re-rank outside the deliberate q_ann_topk
    // gate-pair: chunk candidates per query are corpus-sized, so the
    // family pin extends here
    assertHeapRerank(plan("q_rag_pipeline"), "q_rag_pipeline")
  }

  test("q_proto_prune: rank windows are (cluster × cos-bucket)-bounded, never whole-cluster") {
    // protoPrune ranks EVERY row, so it can't use the heap — its
    // scale-safe form is the two-phase bucketed cumulative: every
    // window in the plan must involve the __cb bucket column (the
    // in-bucket rank partitions on it; the carry orders by it over
    // ≤201 bucket rows per cluster). A whole-cluster window
    // (corpus/k rows per group) is the spill shape the round-14
    // migration exists to forbid.
    val p = plan("q_proto_prune")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(winLines.nonEmpty, p.take(1500))
    assert(winLines.forall(_.contains("__cb")),
      "every rank window must be bucket-bounded or the bucket carry:\n" +
        winLines.mkString("\n"))
  }

  test("q_ann_topk_heap: bounded_top_k partial+final, no Window over the scored corpus") {
    val p = plan("q_ann_topk_heap")
    val aggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bounded_top_k"))
    assert(aggs >= 2, s"expected partial+final bounded_top_k:\n${p.take(1500)}")
    assert(!p.contains("Window"),
      "the heap form must never buffer a query group in WindowExec")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 20-query probe head must broadcast, not shuffle the corpus")
  }

  test("q_conv_flatten: parse+explode is one map stage — no shuffle, no join") {
    // fixture assembly aggregates per conversation (one exchange);
    // the FLATTEN itself adds nothing on top: no join, no window, and
    // exactly the fixture's single aggregation exchange
    val p = plan("q_conv_flatten")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, // fixture groupBy partial+final
      s"flatten added shuffles beyond the fixture aggregation:\n${p.take(1500)}")
  }

  test("q_conv_gate: one partial+final hash aggregate over turns, no window") {
    val p = plan("q_conv_gate")
    assert(!p.contains("Window"), p.take(1500))
    val objAggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && (l.contains("n_fail") || l.contains("count")))
    assert(objAggs >= 1, p.take(1500))
  }

  test("q_ivf_refresh: map-only assignment; cells join corpus-side") {
    val p = plan("q_ivf_refresh")
    // r15: centroid assignment is the graft_nearest_cents PROJECTION
    // (centroids ride a broadcast variable) — the old broadcast-
    // nested-loop join + per-id aggregate must never come back
    assert(p.contains("graft_nearest_cents"),
      s"assignment must be the map-only projection:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no centroid cross join may reappear:\n${p.take(1500)}")
    assert(p.contains("SortMergeJoin"),
      "the cell-store join is corpus-sized and must stay sort-merge")
    assertHeapRerank(p, "q_ivf_refresh")
  }

  test("q_retrieval_metrics: stats broadcast back; rankings via bounded heap, no corpus window") {
    val p = plan("q_retrieval_metrics")
    assert(!p.contains("Window"),
      s"per-query rankings must come from bounded_top_k, not a window sort:\n${p.take(1500)}")
    val heapAggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bounded_top_k"))
    assert(heapAggs >= 2, s"expected partial+final bounded_top_k:\n${p.take(1500)}")
    // r15: rel rides INSIDE the retrieved heap's key and the ideal
    // heap reduces alongside, so the whole metric suite is two corpus
    // scans (stats + scoring) with the one-row stats broadcast as its
    // only join — a shuffle join here would mean the corpus-shuffling
    // head⋈qrels shape came back
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"the metric tail must stay shuffle-join-free:\n${p.take(1500)}")
  }

  test("q_retrieval_metrics_rrf: one reduction, in-row fusion — no window, no shuffle join (r16)") {
    // r16: both arm heads, the ideal heap, and n_rel reduce in ONE
    // groupBy(qid) over one scoring pass; the RRF fusion + final
    // ranking run in-row over the decoded heads. The plan must stay
    // the retrievalMetrics shape: two corpus scans (stats + scoring),
    // the one-row stats broadcast as its only join, no window, no
    // second aggregation over head rows.
    val p = plan("q_retrieval_metrics_rrf")
    assert(!p.contains("Window"),
      s"per-query rankings must come from bounded_top_k, not a window sort:\n${p.take(1500)}")
    val heapAggs = p.linesIterator.count(l =>
      l.contains("Aggregate") && l.contains("bounded_top_k"))
    assert(heapAggs >= 2, s"expected partial+final bounded_top_k:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"the fused metric tail must stay shuffle-join-free:\n${p.take(1500)}")
    // the r15 shape's giveaway was a second qid exchange for the
    // full-outer head join plus a second scoring subtree — the in-row
    // fusion leaves exactly ONE qid-keyed aggregation. Exchange budget:
    // scan-parallelize repartition + stats single-row agg + its
    // broadcast + the one groupBy(qid) (+1 slack for AQE reads) = 5;
    // the r15 plan carried ~11
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 6,
      s"expected the two-scan single-reduction shape (few exchanges), got $exchanges:\n${p.take(2000)}")
  }

  test("q_pack_sequences: the two-phase prefix sum runs ONE reused exchange (r16 guide §2.4)") {
    // the in-bucket window and the carry aggregate both consume the
    // bucketed token relation; the explicit b-keyed repartition makes
    // their exchanges canonically identical so AQE materializes the
    // shuffle ONCE — visible only in the POST-execution adaptive plan
    // as a doubly-referenced ShuffleQueryStage (or a ReusedExchange)
    val df = Queries.runners("q_pack_sequences")(spark, dir)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val p = df.queryExecution.executedPlan.toString
    val stageIds = "ShuffleQueryStage (\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(p.contains("ReusedExchange") ||
        stageIds.size > stageIds.distinct.size,
      s"expected the corpus-tokenize exchange to be reused:\n${p.take(2500)}")
  }

  test("Prefix.running: no window runs twice") {
    // the bucket totals read the pre-window rows of the one shared
    // exchange, so the in-bucket window runs once; a split exchange (a
    // passenger column pruned from one consumer only) would run the
    // upstream chain twice, and its windows (the conversation
    // render's, here) would appear twice
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val helper = new AdaptiveSparkPlanHelper {}
    for (name <- Seq("q_weighted_quantile", "q_pack_sequences", "q_conv_pack", "q_proto_prune")) {
      val df = Queries.runners(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan
      // a reused query stage is visited once per reference: count nodes
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[WindowExec, java.lang.Boolean]())
      val wins = helper.collect(p) { case w: WindowExec => w }.filter(seen.add)
      val names = wins.map(_.windowExpression.map(_.name).sorted.mkString(","))
      assert(names.distinct.size === names.size, s"$name runs a window twice:\n$p")
    }
  }

  test("bm25 index: a production-sized store's term filter prunes postings DIRECTORIES (r16 guide §6)") {
    // force the bucketed layout (the size gate keeps fixture stores
    // flat — measured r16: partition-dir staging costs more than
    // fixture-scale pruning saves) and assert the query hits the
    // bucket dirs as PartitionFilters, with the residual term filter
    // pushed to the surviving files — plus score identity to the flat
    // layout's oracle-gated path
    import org.apache.spark.sql.functions.col
    val tmp = tmpDir("graft_bm25plan")
    spark.conf.set(graft.ops.Bm25Index.PartitionMinBytesKey, "0")
    try {
      val d = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      graft.ops.Bm25Index.appendBatch(spark, s"$tmp/idx", d,
        col("doc_id"), col("text"), tag = "t1")
      val q = graft.ops.Bm25Index.bm25TopK(spark, s"$tmp/idx",
        Seq("spark", "stream", "vector", "hash"), k = 20)
      val p = q.queryExecution.executedPlan.toString
      val partLine = p.linesIterator.find(l =>
        l.contains("PartitionFilters") && l.contains("term_bucket"))
      assert(partLine.isDefined,
        s"postings scan must carry a term_bucket PartitionFilter:\n${p.take(2500)}")
      // identical rows to the flat-layout path over the same batch
      spark.conf.set(graft.ops.Bm25Index.PartitionMinBytesKey, Long.MaxValue.toString)
      graft.ops.Bm25Index.appendBatch(spark, s"$tmp/idxflat", d,
        col("doc_id"), col("text"), tag = "t1")
      val flat = graft.ops.Bm25Index.bm25TopK(spark, s"$tmp/idxflat",
        Seq("spark", "stream", "vector", "hash"), k = 20)
      assert(q.exceptAll(flat).isEmpty && flat.exceptAll(q).isEmpty)
    } finally {
      spark.conf.unset(graft.ops.Bm25Index.PartitionMinBytesKey)
    }
  }
}
