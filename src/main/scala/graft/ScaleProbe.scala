package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence probe for the heavy rungs (not part of the driver
  * contract): runs each rung over [[ScaleData]] synthetic inputs with a
  * [[ScaleMetrics]] listener attached and prints one markdown table row
  * per rung — wall time plus the quantities that decide 100 TB
  * survival (shuffle volume, spill, driver-result bytes, peak task
  * memory). ScaleProbeSpec runs the same rungs at two sizes and asserts
  * the growth invariants; this main produces the committed SCALE.md
  * evidence at 10×–100× the spec's sizes.
  *
  * Usage: `runMain graft.ScaleProbe <docsN> <eventsN> <embN> [label]`
  */
object ScaleProbe {

  /** The heavy rungs, lazily bound to generated inputs of the given
    * sizes. Each returns its result row count (forcing full
    * execution); inputs regenerate inside each rung so every rung's
    * metrics are self-contained and comparable across scales. */
  def rungs(spark: SparkSession, docsN: Long, eventsN: Long, embN: Long,
      dim: Int = 64): Seq[(String, () => Long)] = {
    def docs = ScaleData.docs(spark, docsN)
    def events = ScaleData.events(spark, eventsN, math.max(eventsN / 100, 1))
    def emb = ScaleData.embeddings(spark, embN, dim)
    // volume-scaled shuffle partitioning for sort-heavy rungs (twelfth
    // finding, first constraint), restored after the rung so the other
    // rungs keep the session default. AQE partition COALESCING is
    // suspended inside the scope: it targets ~64 MB of COMPRESSED
    // shuffle bytes per partition, and narrow integer-dense rows
    // decompress several-fold — a "64 MB" coalesced partition is a
    // multi-hundred-MB in-memory sort, silently undoing the explicit
    // sizing (measured: the 100× sweep rung spilled ~19 GB with
    // coalescing on, zero with it off; the rest of AQE stays on)
    def withShufflePartitions[T](n: Long)(body: => T): T = {
      val prevN = spark.conf.get("spark.sql.shuffle.partitions")
      val prevC = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try body finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevN)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevC)
      }
    }
    // the production config (MinHash.Config scaladoc): xx hashing is
    // the 100 TB path; md5 exists for oracle replay, not for scale
    val mhCfg = graft.dedup.MinHash.Config(hashFamily = "xx")
    def minhashPairs: DataFrame =
      graft.dedup.MinHash.verifiedPairs(docs, col("doc_id"), col("text"), mhCfg)
    Seq(
      "minhash_pairs" -> (() => force(minhashPairs)),
      "dup_components" -> (() =>
        force(graft.dedup.Components.dupGroups(docs, col("doc_id"),
          minhashPairs, col("doc_a"), col("doc_b")))),
      "span_dedup" -> (() =>
        force(graft.ops.Corpus.spanDedup(docs, col("doc_id"), col("text")))),
      "ivf_topk" -> (() =>
        force(graft.similarity.Ann.ivfTopK(emb, col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 64,
          nProbe = 2, kmeansIters = 3))),
      "ivf_pq_topk" -> (() =>
        force(graft.similarity.Pq.ivfPqTopK(emb, col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 16,
          nProbe = 2, ivfIters = 2, m = 4, pqK = 8, pqIters = 2,
          dim = dim))),
      // ---- approximation-QUALITY rungs ---------------------------------
      // The ANN/dedup family is hash-gated for determinism and
      // rung-proven for bytes; these rungs measure whether it stays
      // ACCURATE as the corpus grows. Returned value is recall (or
      // precision) in BASIS POINTS — not a row count — against planted
      // ground truth ([[ScaleData.plantedEmbeddings]] / the docs
      // generator's id%5==1 near-dup families), so the truth set needs
      // no oracle pass and the curve is measurable at 100×.
      // ann_recall_brute doubles as the planted-structure sanity proof:
      // the exact path must read 10000 bp (every planted neighbor IS a
      // true top-k neighbor), anchoring what the approximate paths are
      // measured against.
      // the heap form IS the brute path at scale: the window form's
      // per-task memory grows with the corpus (whole query group in
      // WindowExec — measured ~2 GB/task at 300k), the heap form's is
      // O(k) and gate-enforced bit-identical (q_ann_topk_heap)
      "ann_recall_brute" -> (() =>
        annRecallBp(graft.similarity.Ann.bruteForceTopKHeap(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10))),
      "ann_recall_lsh" -> (() =>
        annRecallBp(graft.similarity.Ann.lshTopK(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, dim = dim, nPlanes = 8))),
      "ann_recall_ivf" -> (() =>
        annRecallBp(graft.similarity.Ann.ivfTopK(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 64,
          nProbe = 2, kmeansIters = 3))),
      "ann_recall_ivfpq" -> (() =>
        annRecallBp(graft.similarity.Pq.ivfPqTopK(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 16,
          nProbe = 2, ivfIters = 2, m = 4, pqK = 8, pqIters = 2,
          dim = dim))),
      // the two IVF-PQ recall dials MEASURED against the decline the
      // base rung shows (8140 → 6000 bp): doubling nProbe buys ~nothing
      // (the candidates were already probed — ADC ranking is what
      // misorders them; at 1× it even LOSES 340 bp to extra background
      // candidates), while doubling PQ resolution (m 4 → 8 subspaces,
      // 8 → 16 bytes/vector) is the real lever. The pair turns the
      // SCALE.md curve from a problem into a tuning table.
      "ann_recall_ivfpq_probe4" -> (() =>
        annRecallBp(graft.similarity.Pq.ivfPqTopK(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 16,
          nProbe = 4, ivfIters = 2, m = 4, pqK = 8, pqIters = 2,
          dim = dim))),
      "ann_recall_ivfpq_m8" -> (() =>
        annRecallBp(graft.similarity.Pq.ivfPqTopK(
          ScaleData.plantedEmbeddings(spark, embN, dim),
          col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 100, k = 10, nCentroids = 16,
          nProbe = 2, ivfIters = 2, m = 8, pqK = 8, pqIters = 2,
          dim = dim))),
      // pair recall of the banded/chunked candidate generation against
      // the generator's planted near-dup families ((id−1, id) for
      // id%5==1, shingle-Jaccard ≈ 0.9 by construction — the only
      // ≥-threshold pairs a hash-vocab corpus contains). MinHash pair
      // PRECISION vs exact Jaccard is 10000 bp by construction (the
      // banded path ends in an exact-Jaccard verify), so recall is its
      // one free quality axis; SimHash emits unverified hamming
      // candidates, so it gets both a recall and a precision rung.
      "dedup_recall_minhash" -> (() =>
        plantedPairRecallBp(minhashPairs, docsN)),
      "dedup_recall_simhash" -> (() =>
        plantedPairRecallBp(
          graft.dedup.SimHash.pairs(docs, col("doc_id"), col("text")), docsN)),
      "dedup_precision_simhash" -> (() => {
        val found = graft.dedup.SimHash.pairs(docs, col("doc_id"), col("text"))
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        val nFound = found.count()
        val sets = docs.select(col("doc_id"),
          graft.functions.TextFunctions.shingles(col("text"), 3).as("sh"))
        val ok = graft.dedup.MinHash.verify(found, sets,
          graft.dedup.MinHash.Config(threshold = 0.7)).count()
        if (nFound == 0) 0L else ok * 10000L / nFound
      }),
      "funnel" -> (() =>
        force(graft.ops.Funnel.windowFunnel(events, col("user_id"), col("ts"),
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"), window = "30 DAYS"))),
      // time-series rungs run on a FIXED 64-day span regardless of n:
      // the gap-fill axis (keys × span-days) must grow with KEYS — the
      // operator's true input measure — not because the generator's
      // clock happens to stretch with row count
      "gap_fill" -> (() => {
        // FIXED 64-day per-user span at every n: each id lands on day
        // (id div users) mod 64, so the dense axis (keys × span-days)
        // grows with KEYS — the operator's true input measure — and
        // the rung's growth law is the operator's, not the generator
        // clock's
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          pmod(col("id"), lit(users)).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(expr(s"id div $users"), lit(64L)) * lit(86400000000L) +
            pmod(hash(col("id")), lit(86400000000L))).as("ts"))
        // the sort-merge grid⋈obs join and the fill windows sort
        // (keys × days) rows: partition count must scale with volume
        // (twelfth finding's first constraint) for the sorts to stay
        // in-memory — exactly the shuffle-partition sizing a cluster
        // job does
        withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.TimeSeries.gapFillDaily(e, col("user_id"), col("ts"),
            (pmod(hash(col("user_id")), lit(1000000)) + lit(1)).cast("long")))
        }
      }),
      // two-phase sweep line. Bucket granularity is the memory dial:
      // WindowExec buffers each partition-key GROUP (one bucket) in its
      // row array, so per-BUCKET rows — not per-task rows — are the
      // spill unit (measured: hour buckets at 100× put ~130k rows in
      // every group and spilled 18 GB; minute buckets hold ~2k rows
      // and spill nothing). Minute buckets over the 64-day span = 92k
      // carry rows — the single-partition phase-2 window stays trivial
      // (a DECADE of minutes is ~5M rows, still one task's work).
      "max_concurrency" -> (() => {
        val spanUs = 64L * 86400L * 1000000L
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          timestamp_micros(lit(1700000000000000L) +
            pmod(col("id") * lit(7919L), lit(spanUs))).as("ts"))
        // 2·|events| delta rows flow through the bucket-partitioned
        // window sort — same volume-scaled partition sizing
        withShufflePartitions(math.max(32L, 2L * eventsN / 500000L)) {
          force(graft.ops.Intervals.maxIntersections(e, col("ts"),
            expr("timestampadd(MICROSECOND, CAST(pmod(hash(ts), 3600000000) + 1000000 AS BIGINT), ts)"),
            bucket = t => date_trunc("MINUTE", t)))
        }
      }),
      // hot-key contract for the prefix-deficit sequence count: HALF of
      // all events belong to ONE user. The naive per-user running
      // window would buffer that user's whole history in a single
      // WindowExec group (fourteenth finding: the group is the spill
      // unit); the two-phase form keeps groups at (user × minute)
      // granularity, so even the 50%-user's groups stay in the
      // hundreds of rows — asserted by the shared zero-spill invariant
      "seq_count_skew" -> (() => {
        val spanUs = 64L * 86400L * 1000000L
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(users))).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(col("id") * lit(7919L), lit(spanUs))).as("ts"),
          col("id").as("event_id"),
          when(pmod(hash(col("id") * lit(13L)), lit(3)) === 0, lit("A"))
            .otherwise(lit("B")).as("event_type"))
        withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.TimeSeries.sequenceCountPairs(e, col("user_id"),
            col("ts"), col("event_id"),
            col("event_type") === "A", col("event_type") === "B",
            bucket = t => date_trunc("MINUTE", t)))
        }
      }),
      // the round-7-flagged hazard shape: a CONTINUOUS value column
      // makes |distinct values| ≈ |events|, so the quantile's
      // cumulative weight must never run as a global one-task window.
      // Values spread over [0, 1e12); bucketWidth 1e7 → ≤100k value
      // buckets (the carry table, one task's work) with ~|events|/100k
      // distinct values per WindowExec group
      "weighted_quantile" -> (() => {
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          pmod(hash(col("id") * lit(17L)), lit(1000000000000L)).as("v"),
          (lit(1L) + pmod(col("id"), lit(9L))).as("w"))
        withShufflePartitions(math.max(32L, eventsN / 250000L)) {
          force(graft.ops.TimeSeries.weightedQuantiles(e, col("v"), col("w"),
            Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), bucketWidth = 10000000L)) +
          // the round-10 interpolated (type-7) form shares the exact
          // bucketed-cumulative core and the exact hazard: probe it on
          // the same continuous axis in the same rung
          force(graft.ops.TimeSeries.interpolatedQuantiles(e, col("v"),
            Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), bucketWidth = 10000000L)) +
          // the round-12 t-digest on the SAME continuous axis, shifted
          // to exercise both sign branches of the grid: unlike the
          // exact forms above, its only data-sized stage is the
          // map-side-combined grid histogram (≤29k counters), so its
          // shuffle contribution must stay near-FLAT as n grows — the
          // whole point of the sketch tier
          force(graft.ops.TDigest.quantileTDigest(e,
            col("v") - lit(500000000000L),
            Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), w = col("w")))
        }
      }),
      // the four remaining per-key window operators under the
      // seq_count_skew adversary (ONE user owns half of all events):
      // each now runs its window per (user, minute bucket) with a
      // per-user carry over the bucket aggregates, so the hot user's
      // groups stay in the hundreds of rows — the shared zero-spill
      // invariant asserts it. One rung, five forced ops, same input
      // (expTimeDecayed joined in round 10: its phase 1 is a map-side-
      // combinable (user, half-life-bucket) hash agg, so the hot user
      // collapses to ≤ span/halfLife bucket rows before its per-user
      // window ever runs — the same bucket-form claim, probed here).
      "hotkey_windows" -> (() => {
        val spanUs = 64L * 86400L * 1000000L
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(users))).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(col("id") * lit(7919L), lit(spanUs))).as("ts"),
          col("id").as("event_id"),
          pmod(hash(col("id") * lit(3L)), lit(1000000L)).as("v"),
          concat(lit("t"), pmod(hash(col("id") * lit(13L)), lit(5))).as("et"))
        val minute: Column => Column = t => date_trunc("MINUTE", t)
        val endCol = expr(
          "timestampadd(MICROSECOND, CAST(pmod(hash(event_id), 3600000000) + 1000000 AS BIGINT), ts)")
        withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.TimeSeries.deltaSum(e, col("user_id"), col("ts"),
            col("event_id"), col("v"), minute)) +
          force(graft.ops.TimeSeries.timeWeightedAvg(e, col("user_id"),
            col("ts"), col("event_id"), col("v"), minute)) +
          force(graft.ops.TimeSeries.pathTrigrams(e, col("user_id"),
            col("ts"), col("event_id"), col("et"), minute)) +
          force(graft.ops.Intervals.intervalLengthSum(e, col("user_id"),
            col("ts"), endCol, minute)) +
          force(graft.ops.TimeSeries.expTimeDecayed(e, col("user_id"),
            col("ts"), col("v"), halfLifeSeconds = 86400L))
        }
      }),
      // LIMIT n BY key + ANY JOIN under the seq_count_skew adversary
      // (ONE user owns half of all events / half of the right side
      // lands on ONE key): limitBy's whole rationale is the bounded
      // heap — the hot user's millions of rows reduce to ≤ 2(n+m)
      // pairs in EACH map task before any shuffle, where the
      // window-rank form would buffer the full half-corpus group in
      // one WindowExec (fifteenth finding). anyJoin's reduce-then-join
      // collapses the duplicate-heavy right side with a map-side
      // min(struct) BEFORE the join, so the hot key never amplifies.
      // Shared invariants assert: zero spill, ~linear shuffle, flat
      // driver bytes at 1×/10×/100×. Broadcast is DISABLED inside the
      // rung: at CI sizes AQE broadcasts the reduced sides (join
      // shuffle ≈ 0), at 10×+ it flips to shuffle joins — a strategy
      // flip mid-ladder fakes super-linear growth. Pinning the
      // shuffle-join path measures the worst case (a reduced side too
      // big to broadcast — |distinct users| at 100 TB) at every scale;
      // production keeps broadcast on and only improves on this bound.
      "limit_by_skew" -> (() => {
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(users))).as("user_id"),
          col("id").as("event_id"),
          pmod(hash(col("id") * lit(3L)), lit(1000000L))
            .cast("double").as("v"))
        // right side: eventsN/10 rows, half of them on key 0
        val r = spark.range(0, math.max(eventsN / 10, 1000L), 1, inParts)
          .select(
            when(pmod(col("id"), lit(2)) === 0, lit(0L))
              .otherwise(pmod(hash(col("id") * lit(11L)), lit(users)))
              .as("user_id"),
            pmod(hash(col("id") * lit(23L)), lit(100000L)).as("rank_key"),
            concat(lit("p"), pmod(col("id"), lit(997L))).as("payload"))
        val prevB = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        val prevA = spark.conf.getOption(
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        def restore(key: String, v: Option[String]): Unit =
          v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        try withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.LimitBy.limitBy(e, Seq("user_id"), col("v"),
            col("event_id"), n = 3, offset = 1)) +
          force(graft.ops.AnyJoin.anyJoin(e, r, Seq("user_id"),
            tiebreak = Seq("rank_key"), joinType = "left")) +
          // round-12 WITH TIES: same bounded-heap-then-filter shape,
          // same hot key (key 0 owns half the events); the COARSE
          // score (1000 buckets) makes the hot key's boundary tie
          // thousands of rows — the result may extend well past n,
          // but no group's raw cardinality may reach a sort
          force(graft.ops.LimitBy.limitByWithTies(
            e.withColumn("vc", floor(col("v") / lit(1000.0))),
            Seq("user_id"), col("vc"), col("event_id"), n = 3))
        } finally {
          restore("spark.sql.autoBroadcastJoinThreshold", prevB)
          restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
        }
      }),
      // the round-12 t-digest ISOLATED (it also rides the
      // weighted_quantile rung next to the exact forms, but the claim
      // that distinguishes the sketch tier — shuffle stays ~FLAT at
      // the ≤29k-counter grid size however large the input — is only
      // measurable alone): continuous 1e12-domain values, both sign
      // branches, weighted. ScaleProbeSpec asserts the flatness
      // explicitly (≤2× bytes on 10× input), not just linearity
      "tdigest_sketch" -> (() => {
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          (pmod(hash(col("id") * lit(17L)), lit(1000000000000L))
            - lit(500000000000L)).as("v"),
          (lit(1L) + pmod(col("id"), lit(9L))).as("w"))
        force(graft.ops.TDigest.quantileTDigest(e, col("v"),
          Seq(1 -> 100, 1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), w = col("w")))
      }),
      // the composed SFT-modality pipeline (round-15): JSON-payload
      // parse + posexplode (flatten) → gate/clean (one turn-level hash
      // agg + corpus-side verdict join + turn-bounded re-index window)
      // → chat-template render (pure projection) → loss-mask pack (the
      // two-phase bucketed prefix sum + a span explode linear in
      // corpus tokens) → per-sequence stats (hash agg over spans).
      // bucketWidth is the operator's group-size dial, FIXED at 16384
      // conv-ids/bucket so in-bucket window groups stay ~40k turn rows
      // at EVERY scale while the carry grows slowly (convN/16384 rows
      // in one task — ~600k at 10^10 conversations, still one task's
      // work); the generic invariants measure the composed volume the
      // r14 verdict flagged as never-probed
      "conv_pipeline" -> (() => convPipelineRung(spark, docsN, hotWidth = 0L)),
      // the same pipeline under the HOT-BUCKET adversary: every
      // conversation in the pack's FIRST bucket is an 8-turn ×
      // 96-word monster (~13× the average conversation's tokens, ~5×
      // its turn rows — at the 100× size the one bucket holds ~18% of
      // all corpus tokens), so a single in-bucket window group
      // concentrates both rank rows and summed tokens. The zero-spill
      // + linear-shuffle invariants assert the two-phase form absorbs
      // the concentration — the per-bucket skew the conversation
      // modality never had measured (near-duplicate corpora
      // concentrate pack buckets non-uniformly)
      "conv_pipeline_skew" -> (() =>
        convPipelineRung(spark, docsN, hotWidth = 16384L)),
      // the round-12 corpus-LEDGER pair: sequence packing's global
      // exclusive prefix sum and curriculum sharding's global decile
      // cuts are both the bucketed two-phase cumulative shape over the
      // full document set — the weighted_quantile hazard with the DOC
      // LEDGER (every row survives to the output) instead of a
      // quantile probe, so output and shuffle must track docs linearly
      // and the windows stay bucket-partitioned (zero spill)
      "pack_curriculum" -> (() => {
        val d = docs
        withShufflePartitions(math.max(32L, docsN / 50000L)) {
          force(graft.ops.Packing.packSequences(d, col("doc_id"),
            col("text"), seqLen = 2048L)) +
          force(graft.ops.Selection.curriculumShards(d, col("doc_id"),
            col("text"), nShards = 16))
        }
      }),
      // dictionary hierarchy closure under a PLANTED deep+wide tree:
      // keys/12 per layer, parent one layer down, so EVERY chain runs
      // the full maxDepth=12 hops — the worst case for the iterative
      // self-broadcast. The claim under measurement: closure work is
      // dict-sized (12 broadcast hops, each dict-sized — jobs stay
      // FLAT as keys grow; no fact side exists to shuffle). Keys scale
      // with input to 1M (the ask's target, hit at the spec's 10×) and
      // CAP at 2M: dictionaries are model-sized by definition —
      // ClickHouse materializes them in RAM on every server — so an
      // unboundedly growing dictionary is out of contract, and the cap
      // keeps the 100× probe honest about what the operator is for
      "dict_closure" -> (() => {
        val keys = math.min(math.max(eventsN / 10, 1200L), 2000000L)
        val width = math.max(keys / 12, 1L)
        val inParts = math.max(4L, keys / 500000L).toInt
        val dim = spark.range(1, keys + 1, 1, inParts).select(
          col("id"),
          when(col("id") <= width, lit(0L))
            .otherwise(col("id") - width).as("parent"))
        force(graft.ops.Dict.hierarchy(dim, col("id"), col("parent"),
          maxDepth = 12))
      }),
      // degree-oriented triangle counting under a PLANTED HUB (half of
      // all edges touch node 0): the orientation points every hub edge
      // INTO the hub, so wedge volume tracks Σ out-degree² of the
      // low-degree pivots — near-linear shuffle — never the hub's raw
      // degree² (which would be quadratic in the star size)
      "triangles" -> (() => {
        // nodes = edges/20 → average degree ~20, constant across
        // scales, so wedge volume (Σ outdeg² ≈ nodes · (deg/2)²) stays
        // a fixed ~5-10× multiple of the edge count — the wedge table,
        // not the edge table, is what the join sorts, so partitions
        // are sized to WEDGE volume (eventsN/100k ≈ wedges/600k ≈
        // tens-of-MB sorts per task at every scale)
        val nodes = math.max(eventsN / 20, 4)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val edges = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(lit(1L) + pmod(hash(col("id")), lit(nodes - 1))).as("a"),
          (lit(1L) + pmod(hash(col("id") * lit(31L)), lit(nodes - 1))).as("b"))
        withShufflePartitions(math.max(32L, eventsN / 100000L)) {
          force(graft.ops.Graph.triangleCounts(edges, col("a"), col("b")))
        }
      }),
      // bounded-state sketch family in one rung: CMS counters are d·w
      // groups, HLL is m registers, the decayed rollup is one per-key
      // hash agg with a one-row broadcast frontier, RRF fuses two
      // bounded top-k arms — shuffle must stay ~linear (dominated by
      // the per-key exact tables), driver results flat
      "sketch_fusion" -> (() => {
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          pmod(hash(col("id")), lit(users)).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(col("id") * lit(7919L), lit(30L * 86400000000L))).as("ts"),
          pmod(hash(col("id") * lit(7L)), lit(10000L)).as("sc"))
        force(graft.ops.Sketches.countMinEstimates(e, col("user_id"))) +
        force(graft.ops.Sketches.hllDistinct(e, col("user_id"))) +
        force(graft.ops.Rollups.decayedScore(e,
          pmod(col("user_id"), lit(1000L)), col("ts"), col("sc"))) +
        force(graft.ops.Retrieval.rrfFusion(docs, col("doc_id"), col("text"),
          terms = Seq("the", "data")))
      }),
      // the rank-test family (Mann–Whitney / KS / Spearman) on a
      // CONTINUOUS value axis — |distinct values| ≈ |events|, the
      // weighted_quantile hazard shape — so the cumulative midranks
      // must run in the bucketed two-phase form (≤100k-row carry
      // table, never a global one-task window). rankCorr additionally
      // joins two event-proportional rank tables back onto the rows:
      // both joins are corpus-side sort-merge, linear shuffle by
      // construction; the final statistics are one-row aggregates so
      // driver bytes stay flat
      "rank_tests" -> (() => {
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          (pmod(col("id"), lit(2)) === 0).as("ga"),
          pmod(hash(col("id") * lit(17L)), lit(1000000000000L)).as("v"),
          pmod(hash(col("id") * lit(23L)), lit(1000000000000L)).as("y"))
        withShufflePartitions(math.max(32L, eventsN / 250000L)) {
          force(graft.ops.Stats.mannWhitneyU(e, col("ga"), col("v"),
            bucketWidth = 10000000L)) +
          force(graft.ops.Stats.ksTest(e, col("ga"), col("v"),
            bucketWidth = 10000000L)) +
          force(graft.ops.Stats.rankCorr(e, col("v"), col("y"),
            bucketWidth = 10000000L))
        }
      }),
      // the round-9 sequence matchers (adjacent-gap + strict-order
      // viable-set DP) under the seq_count_skew adversary: one user
      // owns half of all events. Every per-step running max is
      // two-phase (RANGE window per (user, hour bucket) + bucket-
      // aggregate carry), so the hot user's window groups stay at
      // in-bucket size — the shared zero-spill invariant asserts it
      "seq_gap_skew" -> (() => {
        val spanUs = 64L * 86400L * 1000000L
        val users = math.max(eventsN / 100, 1)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(users))).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(col("id") * lit(7919L), lit(spanUs))).as("ts"),
          concat(lit("t"), pmod(hash(col("id") * lit(13L)), lit(5))).as("et"))
        val conds = Seq(col("et") === "t0", col("et") === "t1",
          col("et") === "t2")
        withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.TimeSeries.sequenceMatchGapUsers(e, col("user_id"),
            col("ts"), conds, gapUs = 3600000000L)) +
          force(graft.ops.TimeSeries.sequenceMatchStrictOrderUsers(e,
            col("user_id"), col("ts"), conds))
        }
      }),
      // distribution-analysis family on the same continuous axis:
      // tukey runs the per-(key, bucket) cumulative under key skew
      // (hot key owns half the events), the equi-depth histogram the
      // unkeyed bucketed cumulative, and the HDR quantile sketch must
      // collapse everything to its ≤1.9k-counter grid (map-side
      // combine ⇒ near-flat shuffle however large the input)
      "dist_analysis" -> (() => {
        val users = 1000L
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val e = spark.range(0, eventsN, 1, inParts).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(hash(col("id")), lit(users))).as("k"),
          pmod(hash(col("id") * lit(17L)), lit(1000000000000L)).as("v"))
        withShufflePartitions(math.max(32L, eventsN / 250000L)) {
          force(graft.ops.Stats.tukeyOutliers(e, col("k"), col("v"),
            bucketWidth = 10000000L)) +
          force(graft.ops.Stats.equiDepthHistogram(e, col("v"), nBins = 32,
            bucketWidth = 10000000L)) +
          force(graft.ops.Sketches.sketchQuantiles(
            graft.ops.Sketches.quantileSketch(e, col("v")),
            Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100))) +
          // round-10 keyed interpolated quantiles: same keyed
          // bucketed-cumulative core as tukey above, same hot-key
          // adversary (key 0 owns half the events)
          force(graft.ops.TimeSeries.interpolatedQuantilesBy(e, col("k"),
            col("v"), Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100),
            bucketWidth = 10000000L))
        }
      }),
      // spatial band join at CONSTANT density over a GROWING area —
      // the quadratic-risk join class: pair volume must track density²
      // × area (linear in points when density is fixed), never
      // points². A FIXED-size hot cell (~1000 points regardless of N)
      // exercises skew without making the ANSWER quadratic — a city
      // where 1% of a 100M corpus co-locates genuinely has ~10¹¹
      // qualifying pairs, which no join strategy can bound; density-
      // bounded input is the operator's documented contract (the
      // prefix_join posture)
      "spatial_join" -> (() => {
        // input splits sized to the EXPLODED row count a map task
        // shuffles (9× points): 1M-row splits spilled 63 GB in the
        // shuffle-write sorter at 100M — the same artifact class as
        // zorder_box's generator note
        val inParts = math.max(32L, eventsN / 250000L).toInt
        // area scales with N: grid side √N cells of 1e6 µdeg, ~1 point
        // per cell on average
        val side = math.max(4L, math.sqrt(eventsN.toDouble).toLong)
        val hotEvery = math.max(eventsN / 1000L, 1L)
        val pts = spark.range(0, eventsN, 1, inParts).select(
          col("id").as("pid"),
          when(pmod(col("id"), lit(hotEvery)) === 0, lit(500000L))
            .otherwise(pmod(hash(col("id")), lit(side)) * 1000000L +
              pmod(hash(col("id") * lit(7L)), lit(1000000L))).as("x"),
          when(pmod(col("id"), lit(hotEvery)) === 0, lit(500000L))
            .otherwise(pmod(hash(col("id") * lit(13L)), lit(side)) * 1000000L +
              pmod(hash(col("id") * lit(17L)), lit(1000000L))).as("y"))
        // partitions sized to the 9×-exploded stencil side, not the
        // raw point count (first cut at N/250k spilled 3.3 GB at 10M)
        withShufflePartitions(math.max(32L, eventsN / 50000L)) {
          force(graft.ops.Spatial.boxPairs(pts, col("pid"), col("x"),
            col("y"), boxMicroDeg = 1000000L))
        }
      }),
      // the wrap/polar-complete metric radius join on a FIXED globe:
      // with area constant, constant density needs the radius to
      // shrink as 1/√N (expected neighbors per point ≈ π r² N / A
      // stays ~2) — a fixed 300 km radius over 100M uniform global
      // points has genuinely quadratic answers no strategy can bound.
      // The polar caps get a FIXED ~2000-point population (the
      // spatial_join hot-cell pattern): the cap partition's 1-D
      // lat-band join is quadratic in per-band cap density by
      // contract, so the rung pins that its cost stays flat while the
      // main zone grows
      "geo_wrap" -> (() => {
        val inParts = math.max(32L, eventsN / 250000L).toInt
        val r = 6371000.0 * 3.0 / math.sqrt(eventsN.toDouble)
        val capEvery = math.max(eventsN / 2000L, 1L)
        val pts = spark.range(0, eventsN, 1, inParts).select(
          col("id").as("pid"),
          (pmod(hash(col("id")), lit(360000000L)) - lit(180000000L)).as("x"),
          when(pmod(col("id"), lit(capEvery)) === 0,
            lit(66000000L) + pmod(hash(col("id") * lit(5L)), lit(23000000L)))
            .otherwise(pmod(hash(col("id") * lit(3L)), lit(130000000L))
              - lit(65000000L)).as("y"))
        withShufflePartitions(math.max(32L, eventsN / 50000L)) {
          force(graft.ops.Spatial.radiusPairsWrapped(pts, col("pid"),
            col("x"), col("y"), radiusMeters = r))
        }
      }),
      // seasonality: the event-side cost is ONE per-(key, bucket) hash
      // agg (linear, map-side combinable); everything after runs on
      // the series table (keys × span-buckets — here keys grow with N
      // over the FIXED 64-day span, the gap_fill discipline). Period
      // detection adds the ×maxLag series fanout; STL the ×(p+1)
      // window fanout — both bounded parameters, never event volume.
      "seasonal" -> (() => {
        val keys = math.max(eventsN / 200000L, 4L)
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val spanUs = 64L * 86400L * 1000000L
        val e = spark.range(0, eventsN, 1, inParts).select(
          pmod(col("id"), lit(keys)).as("k"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(hash(col("id")), lit(spanUs))).as("ts"),
          (pmod(hash(col("id") * 31L), lit(1000000L)) + lit(1L)).as("v"))
        withShufflePartitions(math.max(32L, eventsN / 500000L)) {
          force(graft.ops.Seasonal.stlDecompose(e, col("k"), col("ts"),
            col("v"), bucketUs = 3600000000L, period = 24)) +
          force(graft.ops.Seasonal.periodDetect(e, col("k"), col("ts"),
            col("v"), bucketUs = 3600000000L, maxLag = 36))
        }
      }),
      // bitmap set algebra: the build must compress against the
      // distinct relation (dense ids → up to 64 ids/word), the
      // word-aligned intersection join must stay linear in words, and
      // the output is the fixed 28-row pair table
      "bitmap_overlap" -> (() => {
        val pts = spark.range(0, eventsN).select(
          pmod(hash(col("id")), lit(8)).as("seg"), col("id").as("v"))
        force(graft.ops.Bitmaps.segmentOverlap(pts, col("seg"), col("v")))
      }),
      // token-explode aggregation rungs: shuffle must track corpus
      // tokens (linear), driver results must stay count-sized
      "tfidf_topterms" -> (() =>
        force(graft.ops.Retrieval.tfIdfTopTerms(docs, col("doc_id"), col("text"),
          k = 3))),
      "dsir_weights" -> (() =>
        force(graft.ops.Dsir.importanceWeights(docs, col("doc_id"), col("text"),
          isTarget = pmod(col("doc_id"), lit(3)) === 0))),
      // adds the exact-percentile selection cut on top of the weights —
      // the same percentile-over-per-doc-longs pattern ppl_buckets uses;
      // its aggregation state tracks DISTINCT weight values, which this
      // rung measures (peak task mem) rather than assumes
      "dsir_select" -> (() =>
        force(graft.ops.Dsir.selectTop(docs, col("doc_id"), col("text"),
          isTarget = pmod(col("doc_id"), lit(3)) === 0,
          keepFraction = 0.3))),
      // the (w1,w2)-keyed model join is the MinHash-finding risk class:
      // a misestimated broadcast of the bigram table would show up here
      // as driver-result growth
      "bigram_lm" -> (() =>
        force(graft.ops.Ngrams.bigramScoreDocs(docs, col("doc_id"), col("text")))),
      // sliding-window substring dedup: the densest token explode in
      // the engine (one window per token, stride 1, materialized twice
      // for the count + verify join) — shuffle must stay linear in
      // corpus tokens and the islands window must stay doc-partitioned
      "dup_spans" -> (() =>
        force(graft.ops.Selection.dupSpans(docs, col("doc_id"), col("text"),
          windowTokens = 6))),
      // gram-keyed first-occurrence join: two shuffles on the gram key
      // (count + join back), then a doc-keyed re-aggregate
      "novelty" -> (() =>
        force(graft.ops.Selection.novelty(docs, col("doc_id"), col("text"),
          n = 3))),
      // the two-phase prefix sum under a quality-ordered composite key:
      // driver must see only the bucket-offset table, never the corpus
      "budget_select" -> (() =>
        force(graft.ops.Selection.budgetSelect(docs, col("doc_id"), col("text"),
          budgetTokens = docsN * 30))),
      // per-source boilerplate: the (source, span)-keyed df aggregate +
      // anti-join back — the template table is corpus-unbounded on
      // pathological inputs, so driver bytes must stay flat (the
      // mis-broadcast risk class) and shuffle linear in corpus tokens
      "boilerplate" -> (() =>
        force(graft.ops.Corpus.boilerplateClean(
          docs.withColumn("source", concat(lit("s"),
            pmod(col("doc_id"), lit(50)).cast("string"))),
          col("doc_id"), col("text"), col("source"),
          spanTokens = 4, minDf = 2L))),
      // iterative node-keyed join-agg where BOTH sides are corpus-
      // proportional (rank table ≈ nodes, edges ≈ events) — three
      // chained iterations must keep driver bytes flat and shuffle
      // linear per iteration
      "pagerank" -> (() =>
        force(graft.ops.Graph.pageRank(events, col("user_id"),
          pmod(hash(col("ts")), lit(1000)).cast("string"),
          iters = 3))),
      // exact prefix-filtering similarity join on the NATURAL-shape
      // corpus (Zipf vocab — the operator's documented contract): the
      // rarest-token prefixes must keep candidates ∝ planted families,
      // so shuffle stays linear; the uniform-vocab generator would
      // (correctly) explode this rung quadratically
      "prefix_join" -> (() =>
        force(graft.dedup.PrefixJoin.pairs(
          ScaleData.docsZipf(spark, docsN), col("doc_id"), col("text")))),
      // iterative trained classifier: per GD pass one broadcast of the
      // 65-row weight table + two corpus hash-aggs; the only driver
      // materializations are the 65-row gradient and the count — both
      // flat however large the corpus
      "logreg" -> (() =>
        force(graft.ops.Logistic.classify(docs, col("doc_id"), col("text"),
          label = pmod(hash(col("doc_id")), lit(2)) === 0,
          isTrain = pmod(col("doc_id"), lit(5)) =!= 0))),
      // two-tier BPE trainer: 64 merges must cost a FIXED handful of
      // driver round-trips (local tier: vocab checkpoint + count +
      // collect), not one job per merge — the r6-flagged latency class
      // (32k-merge vocab = 32k sequential jobs). Bounded vocab is the
      // operator's documented Heaps-law input contract; the jobs column
      // is the rung's headline metric
      "bpe_train" -> (() =>
        force(graft.ops.Bpe.learnMerges(
          ScaleData.docs(spark, docsN, vocab = 2000, uniqueTail = false),
          col("doc_id"), col("text"), nMerges = 64))),
      // two-tier unigram-LM tokenizer trainer (the bpe_train hazard
      // class, joined per the standing rung policy): seed + 2 Viterbi-EM
      // rounds + prune over a 2000-word vocab must cost a FIXED handful
      // of driver round-trips (word-freq checkpoint + count + collect),
      // never per-EM-round corpus jobs — the jobs column is the rung's
      // headline metric, pinned by ScaleProbeSpec's invariant-4 twin
      "unigram_train" -> (() =>
        force(graft.ops.UnigramTok.trainPieces(
          ScaleData.docs(spark, docsN, vocab = 2000, uniqueTail = false),
          col("doc_id"), col("text"),
          maxPieceLen = 4, seedSize = 512, vocabSize = 256, emIters = 2))),
      // multi-key blocked entity resolution on SKEWED keys: the junk
      // mega-blocks (shared default phone / placeholder email, size
      // ∝ n) must be dropped by the maxBlock cap so candidate-pair
      // volume — and with it shuffle — stays linear; an uncapped
      // blocker would quadratically self-join the mega-block
      "record_linkage" -> (() =>
        force(graft.ops.Linkage.resolve(
          ScaleData.linkageRecords(spark, docsN), col("rec_id"),
          Seq(col("phone"), col("email"))))),
      // per-source percentile calibration at 1k strata: the exact-
      // percentile aggregate's state is DISTINCT quality values per
      // source (bounded), never row-proportional, and the cut table
      // broadcasts back — one corpus shuffle on `source`, flat driver
      "source_calibrate" -> (() =>
        force(graft.ops.Selection.sourceCalibrate(
          docs.withColumn("source", concat(lit("s"),
            pmod(col("doc_id"), lit(1000)).cast("string"))),
          col("doc_id"), col("text"), col("source")))),
      // z-order layout + 2-D box read: the repartitionByRange write is
      // the one (linear) shuffle; the box read's opened-file fraction
      // must track SELECTIVITY (~1/16 box over 32 files), not table
      // size — asserted in-rung so a skipping regression fails the
      // probe, not just a benchmark
      "zorder_box" -> (() => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_zscale")
        val base = tmp.toString + "/store"
        // bounded input splits (~1M rows ≈ a real table's
        // maxPartitionBytes granularity): spark.range's default 32
        // giant splits would overflow per-task execution memory on the
        // map side of the range exchange — an artifact of the synthetic
        // generator, not of the layout
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val grid = spark.range(0, eventsN, 1, inParts).select(col("id"),
          pmod(hash(col("id")), lit(100000)).as("x"),
          pmod(hash(col("id") * lit(31L)), lit(100000)).as("y"))
        // production posture: file COUNT scales with volume (bounded
        // rows per file → the per-partition layout sort fits memory at
        // any table size); a fixed count would spill at 100×
        val files = math.min(512, math.max(32, (eventsN / 31250L).toInt))
        graft.sinks.ZOrder.commitReplaceZOrdered(spark, base, grid,
          Seq("x", "y"), numFiles = files)
        val box = Seq(("x", 0.0, 24999.0), ("y", 0.0, 24999.0))
        val frac = graft.sinks.ZOrder.filesOpenedFraction(spark, base, box)
        require(frac <= 0.35,
          f"z-order box opened $frac%.2f of files — multi-dim skipping broke at scale")
        val n = force(graft.sinks.ZOrder.readBox(spark, base, box)
          .getOrElse(sys.error("box read skipped every file")))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
        n
      }),
      // keyed MERGE partial rewrite: a CDC batch confined to ~0.1% of
      // the keyspace against a key-clustered table must rewrite a
      // file count bounded by the BATCH's span (≤3 files here at every
      // scale), never the table — asserted in-rung; the overall
      // metrics stay linear because the one-time table build dominates
      "merge_rewrite" -> (() => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_mergescale")
        val base = tmp.toString + "/store"
        val inParts = math.max(32L, eventsN / 1000000L).toInt
        val files = math.min(512, math.max(32, (eventsN / 31250L).toInt))
        val t = spark.range(0, eventsN, 1, inParts)
          .select(col("id").as("k"), (col("id") * 7L).as("v"))
          .repartitionByRange(files, col("k"))
        graft.sinks.SnapshotStore.commitReplace(spark, base, t,
          statsCols = Seq("k"))
        val lo = eventsN / 2
        val changes = spark.range(lo, lo + 1000)
          .select(col("id").as("k"), lit(-1L).as("v"),
            (col("id") % 5 === 0).as("__del"))
        val rewritten = graft.sinks.SnapshotStore.mergeKeyed(
          spark, base, changes, "k", col("__del"), statsCols = Seq("k"))
        require(rewritten <= 3,
          s"merge rewrote $rewritten of $files files — pruning broke at scale")
        val n = force(graft.sinks.SnapshotStore.read(spark, base).get)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
        n
      }),
      // size-targeted commit rebalance (r16, guide §6 "coalesce on
      // write"): an append arriving from a deliberately MANY-task
      // upstream (one tiny file per task without the fix — the
      // 100 TB landing's tiny-file storm) must land a file count that
      // tracks BYTES/advisory-size, not upstream task count, once the
      // stageWrite estimate crosses the rebalance threshold (four
      // advisory sizes: a 2 MB advisory size here puts it at 8 MB so
      // probe sizes exercise the path; production keeps Spark's 64 MB
      // default, a 256 MB threshold). Both halves asserted in-rung:
      // bounded count, and non-trivial mean file size when enough
      // bytes land.
      "append_rebalance" -> (() => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_rebal")
        val base = tmp.toString + "/store"
        val inParts = math.max(256L, eventsN / 50000L).toInt
        val t = spark.range(0, eventsN, 1, inParts)
          .select(col("id").as("k"),
            concat(lit("payload-"), col("id")).as("v"))
        val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        val prevAdv = spark.conf.getOption(advisoryKey)
        spark.conf.set(advisoryKey, "2m")
        try {
          graft.sinks.SnapshotStore.commitAppend(spark, base, t)
          val files = graft.sinks.SnapshotStore.listFiles(spark, base)
          require(files.size < inParts / 4,
            s"append landed ${files.size} files from $inParts upstream " +
              "tasks — the size-targeted rebalance is not engaging")
          val fsys = new org.apache.hadoop.fs.Path(base)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val sizes = files.map(rel => fsys.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$base/data/$rel")).getLen)
          if (sizes.sum >= 16L * 1048576L)
            require(sizes.sum / sizes.size >= 1048576L,
              s"mean staged file size ${sizes.sum / sizes.size} B over " +
                s"${sizes.size} files — tiny-file storm despite rebalance")
          val n = force(graft.sinks.SnapshotStore.read(spark, base).get)
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
          n
        } finally prevAdv.fold(spark.conf.unset(advisoryKey))(spark.conf.set(advisoryKey, _))
      }),
      // the composed ensemble gate (Gopher rules + heuristic quality +
      // trained classifier riding in-row as a literal map): after the
      // bounded GD fit, scoring must stay a SINGLE narrow map pass —
      // no join, no corpus shuffle — under full forced evaluation of
      // every output column
      "quality_ensemble" -> (() => {
        val d = docs
        val model = graft.ops.Logistic.fit(
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0), col("text"),
          label = graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
        val t = graft.functions.TextFunctions
        force(d.select(col("doc_id"),
            t.gopherSignals(col("text")).getField("passes").as("gopher_pass"),
            t.qualityScore(col("text")).as("quality"),
            graft.ops.Logistic.scoreColumn(col("text"), model).as("clf_p_micros"))
          .withColumn("keep", col("gopher_pass") && col("quality") >= 0.5 &&
            col("clf_p_micros") >= 500000L))
      }))
  }

  /** The conv_pipeline rung body (shared by the plain and hot-bucket
    * variants): flatten → clean → render → packWithLossMask →
    * packedSeqStats over [[ScaleData.convPayloads]] conversations,
    * bucketWidth fixed at 16384 conv-ids (see the rung comment).
    * Shuffle partitions scale with turn volume (~2.5 rows/conv) per
    * the twelfth finding's first constraint. */
  private def convPipelineRung(spark: SparkSession, convN: Long,
      hotWidth: Long): Long = {
    val turns = graft.ops.Conversations.flatten(
      ScaleData.convPayloads(spark, convN, hotWidth = hotWidth),
      col("conv_id"), col("payload"))
    def spans = graft.ops.Conversations.packWithLossMask(
      graft.ops.Conversations.render(graft.ops.Conversations.clean(turns)),
      seqLen = 2048L, bucketWidth = 16384L)
    val prevN = spark.conf.get("spark.sql.shuffle.partitions")
    val prevC = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(32L, convN / 20000L).toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try force(spans) + force(graft.ops.Conversations.packedSeqStats(spans))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevN)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevC)
    }
  }

  /** recall@k in basis points of a top-k result (query_id, vec_id)
    * against [[ScaleData.plantedEmbeddings]]'s constructed truth:
    * vec_id v is the planted neighbor of query (v − Q) % Q iff
    * Q ≤ v < Q·(1+k). Q = 100 queries, k = 10 planted — the rungs'
    * fixed probe head. */
  private def annRecallBp(topk: DataFrame): Long = {
    val q = 100L
    val kP = 10
    val hits = topk.filter(col("vec_id") >= q &&
      col("vec_id") < q * (1 + kP) &&
      pmod(col("vec_id") - q, lit(q)) === col("query_id")).count()
    hits * 10000L / (q * kP)
  }

  /** Pair recall in basis points against [[ScaleData.docs]]'s planted
    * near-dup families: truth pairs are exactly (id−1, id) for
    * id % 5 == 1 (the generator's Jaccard-≈0.9 construction). */
  private def plantedPairRecallBp(found: DataFrame, docsN: Long): Long = {
    val spark = found.sparkSession
    val planted = spark.range(docsN).filter(pmod(col("id"), lit(5)) === 1)
      .select((col("id") - 1).as("doc_a"), col("id").as("doc_b"))
    val total = planted.count()
    val hits = found.select(col("doc_a"), col("doc_b"))
      .join(planted, Seq("doc_a", "doc_b"), "left_semi").count()
    if (total == 0) 0L else hits * 10000L / total
  }

  /** Force FULL evaluation of `df` and return its row count.
    *
    * `count()` alone is NOT a valid probe action: Catalyst prunes
    * every column the count doesn't need and — via distinct-key
    * propagation — eliminates unique-key outer joins outright, so a
    * counted rung can silently measure a skeleton plan. (Caught live:
    * `boilerplateClean(...).count()` dropped the whole template
    * anti-join + reassembly, and `pageRank(...).count()` collapsed all
    * rank iterations to `deg.count()` — both reported 0-ish shuffle
    * for work they never did.) Hashing every output column into one
    * aggregated checksum pins the measured plan to the one a real
    * consumer (a writer, a downstream join) would run. */
  private def force(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("checksum"))
      .head.getLong(0)

  /** Run every rung at the given sizes, returning (rung, rows,
    * metrics). */
  def run(spark: SparkSession, docsN: Long, eventsN: Long,
      embN: Long): Seq[(String, Long, ScaleMetrics.Measured)] =
    rungs(spark, docsN, eventsN, embN).map { case (name, f) =>
      val (rows, m) = ScaleMetrics.measure(spark)(f())
      (name, rows, m)
    }

  def main(args: Array[String]): Unit = {
    val docsN = if (args.length > 0) args(0).toLong else 1000000L
    val eventsN = if (args.length > 1) args(1).toLong else 10000000L
    val embN = if (args.length > 2) args(2).toLong else 300000L
    val label = if (args.length > 3) args(3) else s"docs=$docsN events=$eventsN emb=$embN"
    // optional fifth arg: comma-separated rung names to probe just those
    val only: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").toSet) else None
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors())
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"### $label")
    println(ScaleMetrics.header)
    rungs(spark, docsN, eventsN, embN)
      .filter(r => only.forall(_.contains(r._1)))
      .foreach { case (name, f) =>
        val (rows, m) = ScaleMetrics.measure(spark)(f())
        println(m.row(s"$name ($rows rows)"))
      }
    spark.stop()
  }
}
