package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions

/** Corpus data-selection operators beyond the mixture/DSIR family in
  * [[Corpus]]/[[Dsir]]: cross-document novelty scoring, source-level
  * (domain-blocklist-style) quality gating, deterministic weighted
  * sampling, and token-budget greedy selection. All follow the
  * oracle-parity protocol from graft.queries.Queries: doubles quantized
  * to exact BIGINTs before any order-sensitive aggregation, rankings on
  * total integer orders, floor-based half-up rounding.
  */
object Selection {

  /** Per-document n-gram novelty (the "how much of this doc is new to
    * the corpus" signal used for incremental crawl triage): the
    * fraction of a document's DISTINCT word n-grams whose first corpus
    * occurrence (min doc_id) is this document. A doc full of
    * already-seen grams scores ~0; fresh content scores ~1.
    *
    * Scale: one explode of distinct shingles (volume ≤ corpus tokens),
    * a gram-keyed count-min aggregate with map-side combine, and a
    * self-join co-partitioned on the same gram key — the only shuffles
    * hash on `gram`, and nothing is ever collected. The doc-level
    * re-aggregate hashes on doc_id. */
  def novelty(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    val g = docs.select(id.as("doc_id"),
      explode(TextFunctions.shingles(lower(text), n)).as("gram"))
    val firsts = g.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    // the firsts table is DISTINCT-GRAM-sized (≈ corpus tokens): a
    // misestimated AQE broadcast ships it through the driver (measured:
    // 128 MB at the 200k-doc probe), and a shuffled-hash build OOM'd
    // outright at the 1M-doc probe — corpus-derived sides get the
    // spill-safe sort-merge pin (SCALE.md findings five/seven)
    g.join(Joins.corpusSide(firsts), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (floor(col("n_novel").cast("double") / col("n_grams") * lit(10000.0)
          + lit(0.5)) / lit(10000.0)).as("novelty"))
  }

  /** DuckDB replica of [[novelty]] over table `documents`. */
  def noveltyOracleSql(n: Int = 3): String =
    raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+${n - 1}], ' ') FOR i IN range(1, greatest(len(toks)-${n - 1}, 1)+1)])) AS gram FROM t),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, floor(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0 AS novelty FROM g JOIN f USING (gram) GROUP BY g.doc_id"""

  /** Quality score in exact integer MICRO-quality units (1e-4 grain,
    * i.e. quality × 10000): [[TextFunctions.qualityScore]] is already
    * floor-quantized at 4 decimals, so scaling back up and half-up
    * flooring recovers the exact integer — safe to sum across any
    * partition order. */
  def qualityMicros(text: Column): Column =
    floor(TextFunctions.qualityScore(text) * lit(10000.0) + lit(0.5)).cast(LongType)

  private def qualityMicrosSql: String =
    raw"""CAST(floor(floor((0.5 * least(1.0, n_tokq/64.0) + 0.3 * (1.0 - least(1.0, punct/ntq)) + 0.2 * least(1.0, 4.0*stop/ntq)) * 10000.0 + 0.5) / 10000.0 * 10000.0 + 0.5) AS BIGINT)"""

  /** Shared oracle CTE computing (doc_id, lang, source, n_tok, q_micros)
    * per document — the per-doc signals every selection oracle reuses. */
  def qSignalsOracleCte(src: String = "documents"): String = {
    val stopPat = TextFunctions.langStopwords.toMap.apply("en")
    raw"""qraw AS (SELECT doc_id, lang, source, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tokq, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct, CAST(len(regexp_extract_all(lower(text), '$stopPat')) AS DOUBLE) AS stop FROM $src),
qsig AS (SELECT doc_id, lang, source, n_tok, $qualityMicrosSql AS q_micros FROM (SELECT *, CASE WHEN n_tokq > 0 THEN n_tokq ELSE 1.0 END AS ntq FROM qraw))"""
  }

  /** CURRICULUM sharding — the ordering plan between selection and
    * the loader: documents bucket into global quality deciles (or
    * `nBuckets`-iles) and spread across `nShards` shards within each
    * bucket, so a curriculum schedule ("easy/high-quality first", or
    * any per-bucket mixing rule) can be materialized shard-by-shard
    * without a global sort at training time. Bucket cuts are the
    * type-1 ([[graft.ops.TimeSeries.weightedQuantiles]]) quantiles of
    * the integer quality score — exact BIGINT cut values from the
    * bucketed two-phase cumulative, broadcast as one (nBuckets−1)-row
    * array; bucket(q) = #cuts ≤ q, so every assignment is an integer
    * comparison (ties land deterministically in the bucket whose cut
    * they equal). Shard = md5 hash of the doc id mod nShards —
    * deterministic, uniform, independent of quality.
    *
    * Scale: the cut computation is the weighted_quantile rung shape;
    * assignment is one per-row map against a broadcast array. Output:
    * (doc_id, q_micros, bucket, shard). */
  def curriculumShards(docs: DataFrame, id: Column, text: Column,
      nShards: Int, nBuckets: Int = 10): DataFrame = {
    require(nShards >= 1 && nBuckets >= 2, "need nShards >= 1, nBuckets >= 2")
    val q = docs.select(id.as("doc_id"), qualityMicros(text).as("q_micros"))
    val cuts = graft.ops.TimeSeries.weightedQuantiles(
        q, col("q_micros"), lit(1L), (1 until nBuckets).map(d => d -> nBuckets))
      .agg(sort_array(collect_list(col("value"))).as("cuts"))
    q.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("q_micros"),
        size(filter(col("cuts"), c => c <= col("q_micros")))
          .cast(LongType).as("bucket"),
        pmod(TextFunctions.md5Long(
          concat(lit("shard:"), col("doc_id").cast("string"))),
          lit(nShards.toLong)).as("shard"))
  }

  /** DuckDB replica of [[curriculumShards]] over `documents`. */
  def curriculumShardsOracleSql(nShards: Int, nBuckets: Int = 10): String = {
    val qrows = (1 until nBuckets).map(d => s"($d, $nBuckets)").mkString(", ")
    raw"""WITH ${qSignalsOracleCte()},
cum AS (SELECT q_micros AS v, count(*) AS w FROM qsig GROUP BY 1),
cw AS (SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM cum),
tot AS (SELECT sum(w) AS tw FROM cum),
qq(q_num, q_den) AS (VALUES $qrows),
cuts AS (SELECT q_num, q_den, min(v) AS cut FROM cw, tot, qq WHERE c * q_den >= q_num * tw GROUP BY 1, 2)
SELECT doc_id, q_micros,
 CAST((SELECT count(*) FROM cuts WHERE cut <= qsig.q_micros) AS BIGINT) AS bucket,
 CAST('0x'||substring(md5('shard:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % $nShards AS shard
FROM qsig"""
  }

  /** Source-level quality statistics (the RefinedWeb/C4-style
    * domain-blocklist planning step, with `source` standing in for the
    * registered domain): per source, document count, total tokens, and
    * the mean document quality in micro-units — plus the keep verdict
    * at `minMeanQMicros`/`minDocs`. Mean = floor(exact-sum / count +
    * 0.5): both operands exact integers, so the division is the same
    * double op in both engines.
    *
    * Scale: one groupBy(source) with map-side combine over exact
    * integer partials; source cardinality is domain-count-bounded, so
    * the aggregate output is tiny at any corpus size. */
  def sourceStats(docs: DataFrame, id: Column, text: Column, source: Column,
      minMeanQMicros: Long, minDocs: Long): DataFrame =
    docs.select(source.as("source"), id.as("doc_id"),
        TextFunctions.tokenCount(text).cast(LongType).as("n_tok"),
        qualityMicros(text).as("qm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        floor(sum(col("qm")).cast("double") / count(lit(1)) + lit(0.5))
          .cast(LongType).as("mean_q_micros"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("mean_q_micros"),
        (col("mean_q_micros") >= minMeanQMicros && col("n_docs") >= minDocs)
          .as("keep"))

  /** DuckDB replica of [[sourceStats]]. */
  def sourceStatsOracleSql(minMeanQMicros: Long, minDocs: Long): String =
    s"""WITH ${qSignalsOracleCte()}
SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, CAST(floor(CAST(sum(q_micros) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_q_micros, (CAST(floor(CAST(sum(q_micros) AS DOUBLE) / count(*) + 0.5) AS BIGINT) >= $minMeanQMicros AND count(*) >= $minDocs) AS keep FROM qsig GROUP BY source"""

  /** The apply step of [[sourceStats]]: keep only documents from
    * passing sources. The stats side is tiny (one row per source), so
    * the join broadcasts — the corpus itself never shuffles. */
  def sourceFilter(docs: DataFrame, id: Column, text: Column, source: Column,
      minMeanQMicros: Long, minDocs: Long): DataFrame = {
    val kept = sourceStats(docs, id, text, source, minMeanQMicros, minDocs)
      .filter(col("keep")).select(col("source"))
    docs.select(id.as("doc_id"), source.as("source"))
      .join(broadcast(kept), Seq("source"))
      .select(col("doc_id"), col("source"))
  }

  /** DuckDB replica of [[sourceFilter]]. */
  def sourceFilterOracleSql(minMeanQMicros: Long, minDocs: Long): String =
    s"""WITH ${qSignalsOracleCte()},
st AS (SELECT source FROM qsig GROUP BY source HAVING CAST(floor(CAST(sum(q_micros) AS DOUBLE) / count(*) + 0.5) AS BIGINT) >= $minMeanQMicros AND count(*) >= $minDocs)
SELECT d.doc_id, d.source FROM documents d JOIN st ON d.source = st.source"""

  /** Per-source quality CALIBRATION (CCNet's percentile gating applied
    * per stratum): raw quality scores are not comparable across
    * sources — each has its own baseline — so the keep cut is the
    * PER-SOURCE `dropFraction` quantile of the micro-unit quality,
    * not one global threshold. A document keeps iff its quality
    * reaches its OWN source's cut, dropping each source's worst
    * `dropFraction` regardless of how the sources' ranges overlap.
    *
    * Scale: the exact-percentile aggregate shuffles the corpus once on
    * `source` with map-side partials whose state is DISTINCT q_micros
    * values (≤ 10001 per source — the dsir_select-probed bound, never
    * row-proportional); the cut table is one row per source and
    * broadcasts back, so the corpus does not shuffle for the join.
    * Deliberately NOT the percent_rank-window formulation: a window
    * sorts each source's rows inside one task, which a mega-source
    * breaks at any partition sizing.
    *
    * `dropFraction` must be a DYADIC rational k/2^m (0.25, 0.5,
    * 0.375, …): the keep verdict compares against an interpolated
    * double cut, and the exact-equality oracle contract only provably
    * holds when the interpolation weight (n-1)·f is computed without
    * representation error on both engines. A dyadic f is exact in
    * binary floating point, so Spark's `percentile` and DuckDB's
    * `quantile_cont` interpolate between the same two integers with
    * the same exact weight; a non-dyadic f (0.1, 0.3) risks a 1-ulp
    * divergence between the two interpolations and a flipped `keep`
    * on a boundary row. Enforced eagerly rather than documented-only. */
  def sourceCalibrate(docs: DataFrame, id: Column, text: Column,
      source: Column, dropFraction: Double = 0.25): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction <= 1.0, "fraction in [0,1]")
    val scaled = dropFraction * (1 << 20)
    require(scaled == math.floor(scaled),
      s"dropFraction=$dropFraction is not a dyadic rational k/2^m (m<=20); " +
        "non-dyadic fractions break the exact-equality oracle contract " +
        "(1-ulp interpolation divergence) — use 0.25, 0.5, 0.375, ...")
    val sc = docs.select(id.as("doc_id"), source.as("source"),
      qualityMicros(text).as("q_micros"))
    val cuts = sc.groupBy(col("source"))
      .agg(expr(s"percentile(q_micros, ${dropFraction}D)").as("cut"))
    sc.join(broadcast(cuts), Seq("source"))
      .select(col("doc_id"), col("source"), col("q_micros"), col("cut"),
        (col("q_micros").cast("double") >= col("cut")).as("keep"))
  }

  /** DuckDB replica of [[sourceCalibrate]] (quantile_cont matches
    * Spark's interpolating `percentile` on the integer-scaled score —
    * the ppl_buckets-proven parity). */
  def sourceCalibrateOracleSql(dropFraction: Double = 0.25): String =
    s"""WITH ${qSignalsOracleCte()},
cuts AS (SELECT source, quantile_cont(q_micros, $dropFraction) AS cut FROM qsig GROUP BY source)
SELECT doc_id, source, q_micros, cut, CAST(q_micros AS DOUBLE) >= cut AS keep FROM qsig JOIN cuts USING (source)"""

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis A-ES, the standard one-pass distributed scheme): each
    * document draws a reproducible uniform u from md5(doc_id) and keys
    * on ln(u)/w — the k largest keys ARE a weighted sample without
    * replacement. Here w = token count (token-proportional sampling),
    * and the key is quantized to exact micro-units so both engines
    * rank the identical total order (doc_id tiebreak).
    *
    * Scale: pure per-row map + global top-k — Spark plans
    * orderBy+limit as TakeOrdered (per-partition heaps, k rows to the
    * driver), so there is no global sort at any corpus size. */
  def weightedSample(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val w = greatest(TextFunctions.tokenCount(text), lit(1)).cast("double")
    val uMicro = pmod(TextFunctions.md5Long(
      concat(lit("ws:"), id.cast("string"))), lit(1000000L)) + lit(1L)
    val key = log(uMicro.cast("double") / lit(1000001.0)) / w
    docs.select(id.as("doc_id"), w.cast(LongType).as("weight"),
        floor(key * lit(1000000.0)).cast(LongType).as("key_micros"))
      .orderBy(col("key_micros").desc, col("doc_id").asc)
      .limit(k)
  }

  /** DuckDB replica of [[weightedSample]]. */
  def weightedSampleOracleSql(k: Int): String =
    raw"""WITH t AS (SELECT doc_id, greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS w, CAST('0x'||substring(md5('ws:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000 + 1 AS u_micro FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS weight, CAST(floor(ln(CAST(u_micro AS DOUBLE) / 1000001.0) / CAST(w AS DOUBLE) * 1000000.0) AS BIGINT) AS key_micros FROM t ORDER BY key_micros DESC, doc_id ASC LIMIT $k"""

  /** ClickHouse `SAMPLE num/den` clause analog (table-level consistent
    * sampling, reference context: a MergeTree table declares
    * `SAMPLE BY intHash32(user_id)` and every dashboard query may add
    * `SAMPLE 1/8` to trade accuracy for an 8× scan cut): keep a row
    * iff its KEY's portable hash falls in the bottom num/den of the
    * 2^60 hash domain.
    *
    * The load-bearing property is BY-KEY consistency: a kept user is
    * kept with ALL their rows, in every table sampled on the same key
    * and in every query — so per-user aggregates (sessions, funnels,
    * retention) stay internally complete inside the sample, and
    * `SAMPLE 1/16` is a strict subset of `SAMPLE 1/8` (nested cuts of
    * the same hash axis, ClickHouse's documented nesting guarantee).
    *
    * Scale: a pure per-row codegen'd filter — no shuffle, no state;
    * every downstream shuffle/agg then runs at num/den of the data.
    * Extrapolate additive aggregates by den/num (the registered query
    * emits both raw and scaled counts). */
  def sampleByKey(df: DataFrame, key: Column, num: Long, den: Long): DataFrame = {
    require(num > 0 && num <= den, s"need 0 < num <= den, got $num/$den")
    val cut = (BigInt(num) << 60) / BigInt(den)
    df.filter(TextFunctions.md5Long(
      concat(lit("smp:"), key.cast("string"))) < lit(cut.toLong))
  }

  /** ClickHouse `SAMPLE num/den OFFSET offNum/offDen`: the same
    * by-key hash-domain cut, shifted to start at offNum/offDen of the
    * 2^60 axis — so K workers reading `SAMPLE 1/K OFFSET i/K` cover
    * the key space EXACTLY once between them (disjoint by
    * construction, union = everything; ClickHouse's documented
    * parallel-full-scan idiom). Still a pure per-row codegen'd
    * filter. */
  def sampleByKeyOffset(df: DataFrame, key: Column, num: Long, den: Long,
      offNum: Long, offDen: Long): DataFrame = {
    require(num > 0 && num <= den, s"need 0 < num <= den, got $num/$den")
    require(offNum >= 0 && offNum <= offDen,
      s"need 0 <= offNum <= offDen, got $offNum/$offDen")
    val (lo, hi) = offsetBounds(num, den, offNum, offDen)
    val h = TextFunctions.md5Long(concat(lit("smp:"), key.cast("string")))
    df.filter(h >= lit(lo) && h < lit(hi))
  }

  /** The [lo, hi) hash cut of [[sampleByKeyOffset]]. hi is floored from
    * the COMBINED rational end offset (offNum/offDen + num/den), not
    * from independently-floored start and width — independent floors
    * leave up to one hash value per slice boundary in a gap and stop
    * the last slice short of 2^60; with the combined form slice i's hi
    * equals slice i+1's lo exactly and an end offset of 1 yields
    * hi = 2^60, so K workers at 1/K OFFSET i/K tile the domain with no
    * gap and no overlap. */
  def offsetBounds(num: Long, den: Long, offNum: Long, offDen: Long): (Long, Long) = {
    val lo = (BigInt(offNum) << 60) / BigInt(offDen)
    val hi = ((BigInt(offNum) * den + BigInt(num) * offDen) << 60) /
      (BigInt(offDen) * den)
    (lo.toLong, hi.toLong)
  }

  /** The hash-domain cut [[sampleByKey]] applies, for oracle reuse. */
  def sampleCut(num: Long, den: Long): Long =
    ((BigInt(num) << 60) / BigInt(den)).toLong

  /** DuckDB predicate replica of [[sampleByKey]] over `keySql`. */
  def sampleByKeyOraclePred(keySql: String, num: Long, den: Long): String =
    s"CAST('0x'||substring(md5('smp:'||CAST($keySql AS VARCHAR)),1,15) AS BIGINT) < ${sampleCut(num, den)}"

  /** DuckDB predicate replica of [[sampleByKeyOffset]]. */
  def sampleByKeyOffsetOraclePred(keySql: String, num: Long, den: Long,
      offNum: Long, offDen: Long): String = {
    val (lo, hi) = offsetBounds(num, den, offNum, offDen)
    val h = s"CAST('0x'||substring(md5('smp:'||CAST($keySql AS VARCHAR)),1,15) AS BIGINT)"
    s"($h >= $lo AND $h < $hi)"
  }

  /** Token-budget greedy selection: order documents by (quality desc,
    * doc_id asc) and keep the prefix whose cumulative token count stays
    * under `budgetTokens` (the doc straddling the boundary is kept —
    * greedy-prefix semantics). Emits every document with its position
    * and verdict, so the downstream apply is a simple filter on `kept`.
    *
    * The global running sum rides the SAME two-phase distributed
    * prefix sum as sequence packing ([[Corpus.concatChunk]]): the
    * composite key (10000 − q_micros)·2⁴⁰ + doc_id is monotone in
    * selection order, buckets by quality level for the per-bucket
    * offsets, and never takes an unpartitioned corpus-wide window. */
  def budgetSelect(docs: DataFrame, id: Column, text: Column,
      budgetTokens: Long): DataFrame = {
    val big = 1L << 40
    val keyed = docs.select(
      ((lit(10000L) - qualityMicros(text)) * big + id).as("cid"),
      TextFunctions.tokenCount(text).cast(LongType).as("nt"))
    Corpus.concatChunk(keyed, col("cid"), col("nt"),
        seqLen = 512, bucketSize = big)
      .select(pmod(col("doc_id"), lit(big)).as("doc_id"),
        (lit(10000L) - floor(col("doc_id") / lit(big)).cast(LongType))
          .as("q_micros"),
        col("n_tok"), col("start_tok"),
        (col("start_tok") < budgetTokens).as("kept"))
  }

  /** DuckDB replica of [[budgetSelect]] (the oracle can afford the
    * single global window at test scale; identical by prefix-sum
    * associativity). */
  def budgetSelectOracleSql(budgetTokens: Long): String = {
    val big = 1L << 40
    s"""WITH ${qSignalsOracleCte()},
c AS (SELECT doc_id, q_micros, n_tok, CAST(coalesce(sum(n_tok) OVER (ORDER BY (10000 - q_micros) * $big + doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM qsig)
SELECT doc_id, q_micros, n_tok, start_tok, (start_tok < $budgetTokens) AS kept FROM c"""
  }

  /** Deterministic global training-order shuffle + shard plan: every
    * document gets a seeded md5 sort key, a global 0-based position in
    * (bucket, key, doc_id) order, and the output shard that position
    * lands in — the "shuffle the corpus, write N ordered shards" step
    * that precedes sequence packing in a training-data build.
    *
    * Scale: the global order NEVER takes a corpus-wide window — the
    * position is a [[Prefix.running]] count over hash buckets, the same
    * two-phase shape as [[Corpus.concatChunk]]; at 100 TB the bucket
    * count rises with the cluster, not the data. */
  def shuffleOrder(docs: DataFrame, id: Column, seed: String = "s0",
      nBuckets: Int = 4096, docsPerShard: Long = 100L): DataFrame = {
    require(nBuckets > 0 && docsPerShard > 0)
    val h = TextFunctions.md5Long(concat(lit(s"sh:$seed:"), id.cast("string")))
    val t = docs.select(id.as("doc_id"), h.as("__hkey"),
      pmod(h, lit(nBuckets.toLong)).as("__bkt"))
    Prefix.running(t, Nil, "__bkt", Seq(col("__hkey"), col("doc_id")),
        Seq("pos" -> lit(1L)), Prefix.Sum, Prefix.ExclusiveRows)
      .select(col("doc_id"), col("pos"),
        floor(col("pos") / lit(docsPerShard)).cast(LongType).as("shard"))
  }

  /** DuckDB replica of [[shuffleOrder]] (single global window at test
    * scale — identical by prefix-sum associativity). */
  def shuffleOrderOracleSql(seed: String = "s0", nBuckets: Int = 4096,
      docsPerShard: Long = 100L): String =
    s"""WITH t AS (SELECT doc_id, CAST('0x' || substring(md5('sh:$seed:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hkey FROM documents),
o AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY hkey % $nBuckets, hkey, doc_id) - 1 AS BIGINT) AS pos FROM t)
SELECT doc_id, pos, CAST(floor(pos / $docsPerShard.0) AS BIGINT) AS shard FROM o"""

  /** Duplicated-substring spans (the distributed shape of ExactSubstr
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): every SLIDING `windowTokens`-token window (stride
    * 1 — any offset, unlike [[Corpus.spanDedup]]'s fixed grid) that
    * occurs more than once in the corpus marks its positions
    * duplicated; per document, overlapping/adjacent duplicated windows
    * merge into maximal intervals (gaps-and-islands on the start
    * positions). Emits one row per merged interval:
    * (doc_id, island, span_start, span_end, n_windows) in token
    * coordinates — the removal step is then a per-row slice.
    *
    * Scale: the window explode is ≤ one row per corpus token; the
    * duplicate test is a window-keyed count with map-side combine; the
    * verify join back is co-partitioned on the same key; and the
    * islands window partitions by doc_id (bounded by document length,
    * never corpus-wide). The suffix-array formulation this replaces is
    * inherently sequential — the sliding-window grid is what a
    * 1000-executor cluster can actually run. */
  def dupSpans(docs: DataFrame, id: Column, text: Column,
      windowTokens: Int = 6): DataFrame = {
    require(windowTokens > 0)
    val L = windowTokens
    val wins = docs.select(id.as("doc_id"),
        posexplode(TextFunctions.bindOnce(TextFunctions.tokens(text)) { toks =>
          // sequence(0, negative) would generate DESCENDING — docs
          // shorter than one window must yield no windows at all
          when(size(toks) >= L,
            transform(sequence(lit(0), size(toks) - L),
              c => concat_ws(" ", slice(toks, c + 1, lit(L)))))
            .otherwise(array().cast("array<string>"))
        }))
      .toDF("doc_id", "pos", "win")
    val dups = wins.groupBy(col("win")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("win"))
    // dups is duplicate-volume-sized — unbounded on template-heavy
    // corpora: never broadcast (the novelty/bigram mis-broadcast
    // class), never hash-build (the 100×-probe OOM class) — sort-merge
    val marked = wins.join(Joins.corpusSide(dups), Seq("win"))
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("__new", when(col("pos") - lag(col("pos"), 1).over(byDoc) > L, 1L)
        .otherwise(lit(0L)))
      .withColumn("island", sum(col("__new")).over(run))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + L).cast(LongType).as("span_end"),
        count(lit(1)).as("n_windows"))
  }

  /** DuckDB replica of [[dupSpans]]. */
  def dupSpansOracleSql(windowTokens: Int = 6): String = {
    val L = windowTokens
    raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
w AS (SELECT doc_id, CAST(c AS INTEGER) AS pos, array_to_string(toks[c+1:c+$L], ' ') AS win FROM t, LATERAL unnest(range(0, greatest(len(toks)-$L+1, 0))) AS u(c)),
d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
m AS (SELECT doc_id, pos FROM w JOIN d USING (win)),
lg AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM m),
isl AS (SELECT doc_id, pos, sum(CASE WHEN prev IS NULL OR pos - prev <= $L THEN 0 ELSE 1 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM lg)
SELECT doc_id, CAST(island AS BIGINT) AS island, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(pos) + $L AS BIGINT) AS span_end, CAST(count(*) AS BIGINT) AS n_windows FROM isl GROUP BY doc_id, island"""
  }

  /** The removal step of [[dupSpans]] (ExactSubstr end-to-end): drop
    * every token inside a duplicated interval and reassemble the
    * remaining tokens in order. Emits every document:
    * (doc_id, n_tok, removed_tok, clean_text) — untouched documents
    * pass through with removed_tok = 0.
    *
    * Scale: the per-doc interval list is gaps-and-islands output
    * (bounded by document length over windowTokens), collected per doc
    * with a doc-keyed aggregate — never corpus-wide — then the token
    * filter is one per-row higher-order function against the (tiny)
    * interval array. The corpus joins the interval table LEFT on
    * doc_id: both sides hash on the doc key. */
  def dupSpansClean(docs: DataFrame, id: Column, text: Column,
      windowTokens: Int = 6): DataFrame = {
    val spans = dupSpans(docs, id, text, windowTokens)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__iv"))
    docs.select(id.as("doc_id"), text.as("__text"))
      .join(Joins.corpusSide(spans), Seq("doc_id"), "left")
      .select(col("doc_id"), TextFunctions.bindOnce(
        TextFunctions.tokens(col("__text"))) { toks =>
          val iv = coalesce(col("__iv"),
            array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          // keep token at 0-based pos p iff NO interval covers it
          val keptIdx = filter(sequence(lit(0), size(toks) - 1), p =>
            !exists(iv, s =>
              p.cast(LongType) >= s("span_start") && p.cast(LongType) < s("span_end")))
          struct(
            size(toks).cast(LongType).as("n_tok"),
            (size(toks) - size(keptIdx)).cast(LongType).as("removed_tok"),
            concat_ws(" ", transform(keptIdx, p => element_at(toks, p + 1)))
              .as("clean_text"))
        }.as("__r"))
      .select(col("doc_id"), col("__r.n_tok"), col("__r.removed_tok"),
        col("__r.clean_text"))
  }

  /** DuckDB replica of [[dupSpansClean]]. */
  def dupSpansCleanOracleSql(windowTokens: Int = 6): String = {
    val L = windowTokens
    raw"""WITH t0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
w AS (SELECT doc_id, CAST(c AS INTEGER) AS pos, array_to_string(toks[c+1:c+$L], ' ') AS win FROM t0, LATERAL unnest(range(0, greatest(len(toks)-$L+1, 0))) AS u(c)),
d AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
m AS (SELECT doc_id, pos FROM w JOIN d USING (win)),
lg AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM m),
isl AS (SELECT doc_id, pos, sum(CASE WHEN prev IS NULL OR pos - prev <= $L THEN 0 ELSE 1 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM lg),
iv AS (SELECT doc_id, min(pos) AS s, max(pos) + $L AS e FROM isl GROUP BY doc_id, island),
tok AS (SELECT doc_id, CAST(c AS BIGINT) AS p, toks[c+1] AS tk, len(toks) AS nt FROM t0, LATERAL unnest(range(0, len(toks))) AS u(c)),
kept AS (SELECT tok.doc_id, p, tk, nt FROM tok WHERE NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = tok.doc_id AND tok.p >= iv.s AND tok.p < iv.e))
SELECT t0.doc_id, CAST(len(t0.toks) AS BIGINT) AS n_tok, CAST(len(t0.toks) - coalesce(k.kc, 0) AS BIGINT) AS removed_tok, coalesce(k.ct, '') AS clean_text FROM t0 LEFT JOIN (SELECT doc_id, count(*) AS kc, string_agg(tk, ' ' ORDER BY p) AS ct FROM kept GROUP BY doc_id) k ON t0.doc_id = k.doc_id"""
  }

  /** Semantic decontamination (the embedding-space rung above
    * [[Decontaminate]]'s n-gram overlap): flag corpus vectors whose
    * max cosine against ANY eval-set vector reaches `threshold`.
    * Per-pair cosines quantize to exact micro-units BEFORE the max, so
    * the aggregate is order-independent across engines.
    *
    * Scale: the eval set is small by nature (a benchmark), so it
    * broadcasts; the corpus is never shuffled — the max collapses in a
    * map-side partial keyed by the corpus id. Exactly the
    * [[Decontaminate]] posture, in embedding space. */
  def semanticDecontaminate(emb: DataFrame, id: Column, vec: Column,
      isEval: Column, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    graft.GraftExtensions.install(emb.sparkSession)
    val e = emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
      VectorFunctions.norm(vec).as("nrm"), isEval.as("__ev"))
    val eval = e.filter(col("__ev"))
      .select(col("vec_id").as("eval_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val corpus = e.filter(!col("__ev")).select(col("vec_id"), col("v"), col("nrm"))
    corpus.join(broadcast(eval), expr("true"))
      .select(col("vec_id"),
        when(col("nrm") > 0 && col("qnrm") > 0,
          floor(call_function("graft_dot", col("v"), col("qv"))
            / (col("nrm") * col("qnrm")) * lit(1000000.0) + lit(0.5))
            .cast(LongType)).as("cosm"))
      .groupBy(col("vec_id"))
      .agg(max(col("cosm")).as("max_cos_micros"))
      .select(col("vec_id"), col("max_cos_micros"),
        (col("max_cos_micros") >= math.round(threshold * 1000000).toDouble)
          .as("contaminated"))
  }

  /** DuckDB replica of [[semanticDecontaminate]] over table
    * `embeddings`, eval set = `evalPred` rows. */
  def semanticDecontaminateOracleSql(evalPred: String, threshold: Double): String = {
    val dot = "list_sum([a.v[i]*q.v[i] FOR i IN range(1, len(a.v)+1)])"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt(list_sum([CAST(embedding AS DOUBLE[])[i]*CAST(embedding AS DOUBLE[])[i] FOR i IN range(1, len(embedding)+1)])) AS nrm FROM embeddings),
q AS (SELECT vec_id, v, nrm FROM e WHERE $evalPred),
a AS (SELECT vec_id, v, nrm FROM e WHERE NOT ($evalPred)),
sc AS (SELECT a.vec_id, CASE WHEN a.nrm > 0 AND q.nrm > 0 THEN CAST(floor($dot / (a.nrm * q.nrm) * 1000000.0 + 0.5) AS BIGINT) END AS cosm FROM a, q)
SELECT vec_id, max(cosm) AS max_cos_micros, (max(cosm) >= ${math.round(threshold * 1000000)}.0) AS contaminated FROM sc GROUP BY vec_id"""
  }

  /** Temperature-smoothed mixture sampling rates (the multilingual
    * upsampling recipe of mBERT/XLM-R/mT5, at temperature α = 1/2):
    * sampling probability ∝ share^α, which normalizes — shares cancel —
    * to rate_s = sqrt(min_tokens / tokens_s): the scarcest stratum
    * samples at 1.0, dominant strata downsample by the square root of
    * their size advantage. IEEE sqrt is correctly rounded, so the rates
    * are bit-identical across engines with NO transcendental risk;
    * rates floor-quantize at 1e-6 and expected post-sampling token
    * counts come from the already-quantized rate.
    *
    * Scale: one groupBy(stratum) with map-side combine (stratum
    * cardinality is language-count-bounded) + a one-row broadcast
    * scalar for the min — the corpus never shuffles. */
  def temperatureMix(docs: DataFrame, stratum: Column, nTokens: Column): DataFrame = {
    val tok = docs.select(stratum.as("stratum"), nTokens.cast(LongType).as("nt"))
      .groupBy(col("stratum")).agg(sum(col("nt")).as("n_tokens"))
    val minTok = tok.agg(min(col("n_tokens")).as("__min"))
    tok.join(broadcast(minTok), expr("true"))
      .select(col("stratum"), col("n_tokens"),
        (floor(sqrt(col("__min").cast("double") / col("n_tokens"))
          * lit(1000000.0)) / lit(1000000.0)).as("rate"))
      .withColumn("exp_tokens",
        floor(col("n_tokens").cast("double") * col("rate")).cast(LongType))
  }

  /** DuckDB replica of [[temperatureMix]] on `documents` grouped by
    * `stratumCol` with whitespace token counts. */
  def temperatureMixOracleSql(stratumCol: String): String =
    raw"""WITH tok AS (SELECT $stratumCol AS stratum, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens FROM documents GROUP BY $stratumCol),
m AS (SELECT min(n_tokens) AS mn FROM tok)
SELECT stratum, n_tokens, floor(sqrt(CAST(mn AS DOUBLE) / n_tokens) * 1000000.0) / 1000000.0 AS rate, CAST(floor(CAST(n_tokens AS DOUBLE) * (floor(sqrt(CAST(mn AS DOUBLE) / n_tokens) * 1000000.0) / 1000000.0)) AS BIGINT) AS exp_tokens FROM tok, m"""
}
