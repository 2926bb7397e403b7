package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.functions.TextFunctions

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup/quality: deterministic dataset splits, sequence
  * packing for a fixed token budget, and repetition scoring.
  *
  * All deterministic (hash- or order-derived, no RNG state), so runs
  * are reproducible across clusters and each operator carries an exact
  * DuckDB oracle.
  */
object Corpus {

  /** Deterministic train/val/test assignment: bucket =
    * md5Long("split:" + id) mod 100 → train < trainPct ≤ val <
    * trainPct+valPct ≤ test. Pure per-row map (no shuffle, no RNG —
    * re-running on any cluster assigns identically), the standard
    * hash-split that keeps a document in the same fold across corpus
    * versions. */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need train + val < 100 with train > 0")
    val bucket = pmod(
      TextFunctions.md5Long(concat(lit("split:"), id.cast(StringType))), lit(100))
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** DuckDB replica of [[splitAssign]] for an id expression. */
  def splitAssignSql(idSql: String, trainPct: Int = 80, valPct: Int = 10): String =
    s"""CASE WHEN CAST('0x'||substring(md5('split:'||CAST($idSql AS VARCHAR)),1,15) AS BIGINT) % 100 < $trainPct THEN 'train' WHEN CAST('0x'||substring(md5('split:'||CAST($idSql AS VARCHAR)),1,15) AS BIGINT) % 100 < ${trainPct + valPct} THEN 'val' ELSE 'test' END"""

  /** Deterministic per-stratum sampling keep-predicate: a document is
    * kept when md5Long("sample:" + stratum + ":" + id) mod 10000 falls
    * under its stratum's rate (in basis points). Pure per-row map — no
    * shuffle, no RNG state — so the SAME documents are kept on any
    * cluster, any partitioning, any rerun: the property that makes
    * corpus down-sampling reproducible and incremental (new documents
    * never change old keep decisions, unlike rand()-based sampling).
    * Rates are per-stratum fractions in [0,1]; unlisted strata use
    * `defaultRate`. */
  def sampleKeep(stratum: Column, id: Column,
      rates: Seq[(String, Double)], defaultRate: Double): Column = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0 && r <= 1))
    val bucket = pmod(TextFunctions.md5Long(
      concat(lit("sample:"), stratum.cast(StringType), lit(":"),
        id.cast(StringType))), lit(10000L))
    val bps = rates.foldRight(lit(math.round(defaultRate * 10000))) {
      case ((k, v), acc) => when(stratum === k, lit(math.round(v * 10000))).otherwise(acc)
    }
    bucket < bps
  }

  /** DuckDB replica of [[sampleKeep]] as a boolean SQL expression. */
  def sampleKeepSql(stratumSql: String, idSql: String,
      rates: Seq[(String, Double)], defaultRate: Double): String = {
    val cases = rates.map { case (k, v) =>
      // escape embedded quotes so a stratum like "it's" can't malform
      // the oracle SQL (the engine side via when() needs no escaping)
      s"WHEN $stratumSql = '${k.replace("'", "''")}' THEN ${math.round(v * 10000)}"
    }.mkString(" ")
    s"""CAST('0x'||substring(md5('sample:'||CAST($stratumSql AS VARCHAR)||':'||CAST($idSql AS VARCHAR)),1,15) AS BIGINT) % 10000 < (CASE $cases ELSE ${math.round(defaultRate * 10000)} END)"""
  }

  /** Concat-and-chunk sequence packing (the standard pretraining
    * layout: documents are concatenated in a canonical order and the
    * token stream is cut into fixed `seqLen` sequences). Emits, per
    * document: its absolute token offset in the stream and the
    * first/last sequence index it lands in.
    *
    * Scale design — the global prefix-sum is a [[Prefix.running]] sum
    * over `floor(id / bucketSize)` buckets, not one giant window: the
    * 100 TB failure mode this avoids is `Window.orderBy(id)` with no
    * partitioning — a single reducer holding the entire corpus. The
    * bucket-offsets table has |max id| / bucketSize rows, so it is
    * corpus-derived and joins back sort-merge, never broadcast. */
  def concatChunk(docs: DataFrame, id: Column, nTokens: Column,
      seqLen: Int, bucketSize: Long = 1000L): DataFrame = {
    require(seqLen > 0 && bucketSize > 0)
    // null ids are out of the dense-id contract and dropped
    val d = docs.select(id.as("doc_id"), nTokens.cast(LongType).as("n_tok"),
      floor(id / lit(bucketSize)).cast(LongType).as("__bkt"))
    Prefix.running(d, Nil, "__bkt", Seq(col("doc_id")), Seq("start_tok" -> col("n_tok")),
        Prefix.Sum, Prefix.ExclusiveRows)
      .select(col("doc_id"), col("n_tok"), col("start_tok"),
        floor(col("start_tok") / lit(seqLen)).cast(LongType).as("first_seq"),
        floor((col("start_tok") + greatest(col("n_tok"), lit(1L)) - 1) / lit(seqLen))
          .cast(LongType).as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** DuckDB replica of [[concatChunk]] over table `documents` (the
    * oracle can afford the single global window at test scale; the
    * result is identical to the two-phase form by associativity of the
    * prefix sum). */
  def concatChunkOracleSql(seqLen: Int): String =
    raw"""WITH t AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents),
c AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM t)
SELECT doc_id, n_tok, start_tok, CAST(floor(start_tok / $seqLen.0) AS BIGINT) AS first_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / $seqLen.0) AS BIGINT) AS last_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / $seqLen.0) AS BIGINT) - CAST(floor(start_tok / $seqLen.0) AS BIGINT) + 1 AS n_seqs FROM c"""

  /** Domain-mixing rates — the planning step of a target-mixture
    * corpus build (the DoReMi/Pile-style "x% web, y% code, z% books"
    * recipe): given target token SHARES per stratum, compute the
    * per-stratum acceptance rate that realizes the mixture exactly at
    * the maximum achievable budget. budget = min_s(tokens_s / share_s)
    * (the binding stratum samples at rate 1.0; every other stratum
    * down-samples to keep the ratio). Feed the rates into
    * [[sampleKeep]] for the deterministic apply step.
    *
    * One groupBy(stratum) aggregate (map-side combine, stratum
    * cardinality is tiny) plus a one-row broadcast scalar — the corpus
    * itself is never shuffled. Rates are floor-rounded at 6 decimals
    * for cross-engine hash parity. */
  def mixtureRates(docs: DataFrame, stratum: Column, nTokens: Column,
      shares: Seq[(String, Double)]): DataFrame = {
    require(shares.nonEmpty && shares.forall(_._2 > 0))
    val t = docs.select(stratum.as("stratum"), nTokens.cast(LongType).as("n_tok"))
      .groupBy(col("stratum")).agg(sum(col("n_tok")).as("tokens"))
    val shareCol = shares.foldRight(lit(null).cast("double")) {
      case ((k, v), acc) => when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val w = t.withColumn("target_share", shareCol)
      .filter(col("target_share").isNotNull)
    val budget = w.agg(
      min(col("tokens").cast("double") / col("target_share")).as("budget"))
    w.crossJoin(broadcast(budget))
      .select(col("stratum"), col("tokens"), col("target_share"),
        (floor(least(lit(1.0),
          col("target_share") * col("budget") / col("tokens").cast("double"))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("rate"))
  }

  /** Shared CTE body of the mixture-rate oracle (ends with CTE `mr`:
    * stratum, tokens, target_share, rate). */
  def mixtureRatesOracleCtes(stratumCol: String, shares: Seq[(String, Double)]): String = {
    val caseArms = shares.map { case (k, v) =>
      s"WHEN '${k.replace("'", "''")}' THEN CAST($v AS DOUBLE)"
    }.mkString(" ")
    raw"""t AS (SELECT $stratumCol AS stratum, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens FROM documents GROUP BY 1),
w AS (SELECT stratum, tokens, CASE stratum $caseArms ELSE NULL END AS target_share FROM t WHERE CASE stratum $caseArms ELSE NULL END IS NOT NULL),
b AS (SELECT min(CAST(tokens AS DOUBLE) / target_share) AS budget FROM w),
mr AS (SELECT stratum, tokens, target_share, floor(least(1.0, target_share * budget / CAST(tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS rate FROM w, b)"""
  }

  /** DuckDB replica of [[mixtureRates]] over table `documents` with a
    * column-name stratum and whitespace token counts. */
  def mixtureRatesOracleSql(stratumCol: String, shares: Seq[(String, Double)]): String =
    s"""WITH ${mixtureRatesOracleCtes(stratumCol, shares)}
SELECT stratum, tokens, target_share, rate FROM mr"""

  /** EPOCH planning — [[mixtureRates]]' complement for the
    * over-subscribed direction: mixtureRates can only sample a stratum
    * DOWN (rate ≤ 1), but a real pretraining mix also runs scarce,
    * high-value strata for MULTIPLE passes (Wikipedia at 3.4 epochs is
    * the canonical example). Given the same target shares and an
    * explicit total token budget, each stratum's target = budget·share
    * resolves into n_epochs = ⌊target/tokens⌋ FULL passes plus one
    * FRACTIONAL pass at rate (target mod tokens)/tokens in basis
    * points — the same 10k-bucket deterministic hash space as
    * [[sampleKeepByRate]], so plan and apply compose exactly and the
    * whole plan hash-gates. Strata outside `shares` are excluded (no
    * row). One stratum-sized aggregate; the corpus never shuffles.
    *
    * Output: (stratum, tokens, target_tokens, n_epochs, frac_bp). */
  def epochPlan(docs: DataFrame, stratum: Column, nTokens: Column,
      shares: Seq[(String, Double)], budgetTokens: Long): DataFrame = {
    require(shares.nonEmpty && shares.forall(_._2 > 0) && budgetTokens > 0)
    val t = docs.select(stratum.as("stratum"), nTokens.cast(LongType).as("n_tok"))
      .groupBy(col("stratum")).agg(sum(col("n_tok")).as("tokens"))
    val shareCol = shares.foldRight(lit(null).cast("double")) {
      case ((k, v), acc) => when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val target = floor(lit(budgetTokens).cast("double") * col("target_share")
      + lit(0.5)).cast(LongType)
    t.withColumn("target_share", shareCol)
      .filter(col("target_share").isNotNull && col("tokens") > 0)
      .withColumn("target_tokens", target)
      // exactDiv (DECIMAL route), not double division: target_tokens is
      // budget-scale and passes 2^53 at the 100 TB posture — the double
      // quotient could land one ulp below the exact epoch count.
      .withColumn("n_epochs",
        TDigest.exactDiv(col("target_tokens"), col("tokens")))
      .withColumn("frac_bp",
        floor(pmod(col("target_tokens"), col("tokens")).cast("double")
          * lit(10000.0) / col("tokens").cast("double") + lit(0.5))
          .cast(LongType))
      .select(col("stratum"), col("tokens"), col("target_tokens"),
        col("n_epochs"), col("frac_bp"))
  }

  /** Apply an [[epochPlan]]: materialize the per-document training
    * instances — every doc of a planned stratum appears `n_epochs`
    * times plus once more when its hash bucket falls under the
    * fractional rate. Output one row per INSTANCE (doc_id, stratum,
    * epoch_idx, n_copies); docs drawing zero copies emit nothing. The
    * plan broadcasts (strata-count rows); the explode is per-row. */
  def epochApply(docs: DataFrame, id: Column, stratum: Column,
      plan: DataFrame): DataFrame = {
    // bucket binds to the RENAMED columns (the input's stratum/id
    // expressions are gone after the select below)
    val bucket = pmod(TextFunctions.md5Long(
      concat(lit("epoch:"), col("stratum").cast(StringType), lit(":"),
        col("doc_id").cast(StringType))), lit(10000L))
    docs.select(id.as("doc_id"), stratum.as("stratum"))
      .join(broadcast(plan.select(col("stratum"), col("n_epochs"),
        col("frac_bp"))), Seq("stratum"))
      .withColumn("n_copies",
        col("n_epochs") + when(bucket < col("frac_bp"), 1L).otherwise(0L))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("stratum"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch_idx"))
  }

  /** Shared oracle CTEs for [[epochPlan]] over `documents` (ends with
    * CTE `ep`: stratum, tokens, target_tokens, n_epochs, frac_bp). */
  def epochPlanOracleCtes(stratumCol: String, shares: Seq[(String, Double)],
      budgetTokens: Long): String = {
    val caseArms = shares.map { case (k, v) =>
      s"WHEN '${k.replace("'", "''")}' THEN CAST($v AS DOUBLE)"
    }.mkString(" ")
    raw"""et AS (SELECT $stratumCol AS stratum, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens FROM documents GROUP BY 1),
ew AS (SELECT stratum, tokens, CASE stratum $caseArms ELSE NULL END AS target_share FROM et WHERE CASE stratum $caseArms ELSE NULL END IS NOT NULL AND tokens > 0),
ep AS (SELECT stratum, tokens, CAST(floor(CAST($budgetTokens AS DOUBLE) * target_share + 0.5) AS BIGINT) AS target_tokens, CAST(floor(CAST($budgetTokens AS DOUBLE) * target_share + 0.5) AS BIGINT) // tokens AS n_epochs, CAST(floor(CAST(CAST(floor(CAST($budgetTokens AS DOUBLE) * target_share + 0.5) AS BIGINT) % tokens AS DOUBLE) * 10000.0 / CAST(tokens AS DOUBLE) + 0.5) AS BIGINT) AS frac_bp FROM ew)"""
  }

  /** DuckDB replica of [[epochPlan]]. */
  def epochPlanOracleSql(stratumCol: String, shares: Seq[(String, Double)],
      budgetTokens: Long): String =
    s"""WITH ${epochPlanOracleCtes(stratumCol, shares, budgetTokens)}
SELECT stratum, tokens, target_tokens, n_epochs, frac_bp FROM ep"""

  /** DuckDB replica of [[epochApply]] ∘ [[epochPlan]]. */
  def epochApplyOracleSql(stratumCol: String, shares: Seq[(String, Double)],
      budgetTokens: Long): String =
    s"""WITH ${epochPlanOracleCtes(stratumCol, shares, budgetTokens)},
ec AS (SELECT d.doc_id, ep.stratum, ep.n_epochs + CASE WHEN CAST('0x'||substring(md5('epoch:'||ep.stratum||':'||CAST(d.doc_id AS VARCHAR)),1,15) AS BIGINT) % 10000 < ep.frac_bp THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN ep ON d.$stratumCol = ep.stratum)
SELECT doc_id, stratum, CAST(n_copies AS BIGINT) AS n_copies, CAST(t.i AS BIGINT) AS epoch_idx
FROM ec, LATERAL unnest(range(0, n_copies)) AS t(i) WHERE n_copies >= 1"""

  /** [[sampleKeep]] with the rate coming from a COLUMN (a planned rate
    * joined in, e.g. [[mixtureRates]] output) instead of a literal
    * table — same hash, same bucket space, so planning and applying
    * compose without re-deriving literals. */
  def sampleKeepByRate(stratum: Column, id: Column, rate: Column): Column = {
    val bucket = pmod(TextFunctions.md5Long(
      concat(lit("sample:"), stratum.cast(StringType), lit(":"),
        id.cast(StringType))), lit(10000L))
    bucket < floor(rate * lit(10000.0) + lit(0.5))
  }

  /** C4-style SPAN-level exact dedup: each document is cut into
    * consecutive `spanTokens`-token spans; only the globally FIRST
    * occurrence of each span text survives (first = min (doc_id, pos)),
    * and documents are reassembled from their surviving spans in
    * order. This removes boilerplate repeated ACROSS documents that
    * document-level dedup cannot see (the C4 pipeline's repeated-span
    * rule, adapted to token spans since this corpus has no line
    * structure). Output: (doc_id, kept_spans, total_spans, clean_text)
    * for every input document — emptied documents stay visible with
    * kept_spans = 0.
    *
    * Scale design: first-occurrence is a partial+final hash aggregate
    * keyed by span — NOT a row_number window — so a boilerplate span
    * duplicated a million times collapses to one row per map partition
    * before the shuffle; the verify join back is on the same span key,
    * reusing the aggregate's partitioning. The (doc_id, pos) order is
    * packed into ONE BIGINT (doc_id·2²⁰ + pos) because min over a
    * struct falls back to SortAggregate while min over a long stays in
    * the hash-aggregate + whole-stage-codegen path (verified via
    * explain). Bound: < 2²⁰ spans per document (an 8-million-token doc
    * at the default span size) and doc_id < 2⁴³. The reassembly
    * groupBy(doc_id) shuffles only surviving spans. */
  def spanDedup(docs: DataFrame, id: Column, text: Column,
      spanTokens: Int = 8): DataFrame = {
    require(spanTokens > 0)
    val spanned = docs.select(id.as("doc_id"),
      posexplode(TextFunctions.bindOnce(TextFunctions.tokens(text)) { toks =>
        transform(
          sequence(lit(0),
            ceil(size(toks).cast("double") / lit(spanTokens)).cast("int") - 1),
          c => concat_ws(" ", slice(toks, c * spanTokens + 1, lit(spanTokens))))
      }))
      .toDF("doc_id", "pos", "span")
    val orderKey = col("doc_id").cast(LongType) * lit(1L << 20) + col("pos")
    // firsts' cardinality ≈ DISTINCT SPANS — corpus-proportional:
    // unpinned, AQE broadcasts it and driver bytes track the corpus
    // (probe-caught once the rung forced full evaluation — SCALE.md
    // sixth finding); sort-merge, not shuffled-hash, because a hash
    // build of a corpus-derived side OOM'd the 1M-doc probe (seventh)
    val firsts = spanned.groupBy(col("span")).agg(min(orderKey).as("fkey"))
    val kept = spanned.join(Joins.corpusSide(firsts), "span")
      .filter(orderKey === col("fkey"))
      .select(col("doc_id"), col("pos"), col("span"))
    val reassembled = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("kept_spans"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        x => x("span"))).as("clean_text"))
    // both sides of the final stitch are doc-proportional — same pin
    spanned.groupBy(col("doc_id")).agg(count(lit(1)).as("total_spans"))
      .join(Joins.corpusSide(reassembled), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_spans"), lit(0L)).as("kept_spans"),
        col("total_spans"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CTE body of the [[spanDedup]] oracle over source relation `src`
    * (must expose doc_id, text), every CTE name prefixed — composable
    * into larger pipeline oracles (the KMeans.ctes pattern). Ends with
    * CTEs `${p}ka` (doc_id, kept_spans, clean_text — survivors only)
    * and `${p}tot` (doc_id, total_spans). */
  def spanDedupOracleCtes(spanTokens: Int = 8, src: String = "documents",
      p: String = ""): String =
    raw"""${p}toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM $src),
${p}spans AS (SELECT doc_id, c AS pos, array_to_string(t[c*$spanTokens+1:c*$spanTokens+$spanTokens], ' ') AS span FROM ${p}toks, LATERAL unnest(range(0, CAST(ceil(len(t)/$spanTokens.0) AS BIGINT))) AS u(c)),
${p}kept AS (SELECT doc_id, pos, span FROM (SELECT doc_id, pos, span, row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn FROM ${p}spans) WHERE rn = 1),
${p}ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_spans, string_agg(span, ' ' ORDER BY pos) AS clean_text FROM ${p}kept GROUP BY doc_id),
${p}tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total_spans FROM ${p}spans GROUP BY doc_id)"""

  /** DuckDB replica of [[spanDedup]] over table `documents` (the oracle
    * uses the row_number-window first-occurrence form — identical
    * result, simpler SQL; the engine's packed-min aggregate is the
    * scale-out formulation of the same total order). */
  def spanDedupOracleSql(spanTokens: Int = 8): String =
    s"""WITH ${spanDedupOracleCtes(spanTokens)}
SELECT tot.doc_id, coalesce(kept_spans, 0) AS kept_spans, total_spans, coalesce(clean_text, '') AS clean_text FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id"""

  /** Per-source boilerplate removal (the C4/CCNet "drop lines that
    * repeat across a domain" pass, with `source` standing in for the
    * registered domain and the fixed token grid standing in for lines):
    * a span whose within-source document frequency reaches `minDf` is
    * boilerplate — a header/footer/nav template — and EVERY occurrence
    * is removed (unlike [[spanDedup]], which keeps the first). Emits
    * per doc the span counts and the reassembled clean text.
    *
    * Scale: the df aggregate and the anti-join both hash on
    * (source, span) — one co-partitioned shuffle family. The boilerplate
    * table's size tracks template volume, which on crawl corpora is
    * unbounded — [[Joins.corpusSide]] pins keep AQE from routing it
    * through the driver as a broadcast (the MinHash/bigram probe
    * finding, SCALE.md) and keep the build spill-safe (the seventh).
    * Reassembly is a doc_id-keyed hash aggregate. */
  def boilerplateClean(docs: DataFrame, id: Column, text: Column,
      source: Column, spanTokens: Int = 4, minDf: Long = 2L): DataFrame = {
    require(spanTokens > 0 && minDf > 1)
    val spanned = docs.select(id.as("doc_id"), source.as("source"),
      posexplode(TextFunctions.bindOnce(TextFunctions.tokens(text)) { toks =>
        transform(
          sequence(lit(0),
            ceil(size(toks).cast("double") / lit(spanTokens)).cast("int") - 1),
          c => concat_ws(" ", slice(toks, c * spanTokens + 1, lit(spanTokens))))
      }))
      .toDF("doc_id", "source", "pos", "span")
    val boiler = spanned.select(col("source"), col("span"), col("doc_id")).distinct()
      .groupBy(col("source"), col("span"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("source"), col("span"))
    val kept = spanned.join(Joins.corpusSide(boiler),
      Seq("source", "span"), "left_anti")
    val reassembled = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("kept_spans"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        x => x("span"))).as("clean_text"))
    // doc-proportional stitch join — same pin as spanDedup's
    spanned.groupBy(col("doc_id")).agg(count(lit(1)).as("total_spans"))
      .join(Joins.corpusSide(reassembled), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_spans"), lit(0L)).as("kept_spans"),
        col("total_spans"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DuckDB replica of [[boilerplateClean]] over table `documents`. */
  def boilerplateCleanOracleSql(spanTokens: Int = 4, minDf: Long = 2L): String =
    raw"""WITH toks AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
spans AS (SELECT doc_id, source, c AS pos, array_to_string(t[c*$spanTokens+1:c*$spanTokens+$spanTokens], ' ') AS span FROM toks, LATERAL unnest(range(0, CAST(ceil(len(t)/$spanTokens.0) AS BIGINT))) AS u(c)),
boiler AS (SELECT source, span FROM (SELECT source, span, count(DISTINCT doc_id) AS df FROM spans GROUP BY source, span) WHERE df >= $minDf),
kept AS (SELECT s.doc_id, s.pos, s.span FROM spans s ANTI JOIN boiler b ON s.source = b.source AND s.span = b.span),
ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_spans, string_agg(span, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total_spans FROM spans GROUP BY doc_id)
SELECT tot.doc_id, coalesce(kept_spans, 0) AS kept_spans, total_spans, coalesce(clean_text, '') AS clean_text FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id"""

  /** Intra-document repetition ratio over word n-grams (a Gopher-style
    * repetition quality signal): 1 - distinct/total n-grams, in
    * portable floor-form at 4 decimals. Pure per-row map. */
  def repetitionRatio(text: Column, n: Int = 3): Column =
    TextFunctions.bindOnce(TextFunctions.tokens(text)) { toks =>
      TextFunctions.bindOnce(transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n))))) { grams =>
        val total = size(grams).cast("double")
        val distinctN = size(array_distinct(grams)).cast("double")
        floor((lit(1.0) - distinctN / total) * lit(10000.0) + lit(0.5)) / lit(10000.0)
      }
    }

  /** DuckDB replica of [[repetitionRatio]] for table `documents`. */
  def repetitionRatioSql(n: Int = 3): String =
    raw"""floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) * 10000.0 + 0.5) / 10000.0"""

  /** Shared grams CTE fragment for the repetition oracle. */
  def gramsSql(n: Int = 3): String =
    raw"""[array_to_string(toks[i:i+${n - 1}], ' ') FOR i IN range(1, greatest(len(toks)-${n - 1}, 1)+1)]"""

  /** RAG-style overlapping token-window chunking: each document explodes
    * into `chunkTokens`-token chunks whose starts advance by `stride`
    * tokens (overlap = chunkTokens - stride) — the standard
    * retrieval-corpus prep step upstream of embedding. Pure per-row
    * generate+explode: NO shuffle at all, and the output volume is
    * bounded by corpus_tokens/stride × chunkTokens, so the plan is a
    * single narrow map stage at any corpus size. Chunk ids are
    * (doc_id, chunk_idx) — stable under corpus growth, so downstream
    * embedding stores can upsert incrementally.
    * Output: (doc_id, chunk_idx, start_tok, n_tokens, chunk_text). */
  def chunkOverlap(docs: DataFrame, id: Column, text: Column,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    docs.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(size(col("toks")) - col("start_tok"), lit(chunkTokens))
          .as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start_tok") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** DuckDB replica of [[chunkOverlap]] over table `documents`: starts
    * are c*stride for c in [0, ceil(len/stride)) — the same index set
    * Spark's sequence(0, len-1, stride) enumerates. */
  def chunkOverlapOracleSql(chunkTokens: Int, stride: Int): String =
    raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
SELECT doc_id, CAST(c AS INTEGER) AS chunk_idx, CAST(c * $stride AS INTEGER) AS start_tok, CAST(least(len(toks) - c * $stride, $chunkTokens) AS INTEGER) AS n_tokens, array_to_string(toks[c * $stride + 1:c * $stride + $chunkTokens], ' ') AS chunk_text FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks) / $stride.0) AS BIGINT))) AS u(c)"""
}
