package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Two-sample statistical tests and categorical-association measures —
  * the ClickHouse A/B-testing aggregate surface (`welchTTest`,
  * `studentTTest`, `mannWhitneyUTest`, `kolmogorovSmirnovTest`,
  * `cramersV`, `theilsU`) a dashboard over the reference's engagement
  * stream would call to compare metric distributions between cohorts
  * (event types, experiment arms) and detect drift.
  *
  * Reference context: the pipeline lands per-event engagement metrics in
  * ClickHouse (reference sql/clickhouse-init.sql engagement tables);
  * these functions are the standard ClickHouse analytics calls over that
  * surface. Spark has none of them built in — each is re-derived here as
  * a DECOMPOSED aggregate: one pass of exact integer/decimal sums
  * (associative, map-side combinable, skew-immune), then scalar math on
  * a one-row (or |categories|-row) table.
  *
  * Determinism contract (the repo-wide oracle discipline): inputs are
  * integer µ-units; all sums are DecimalType(38,0) (exact, emitted as
  * strings); derived doubles mirror the oracle SQL operation-for-
  * operation and carry the engine-shared 6-dp floor rounding; any
  * transcendental (ln) is quantized per-TERM to integers BEFORE summing,
  * so double summation order can never differ between engines.
  *
  * Scale posture: the t-tests and association measures are single hash
  * aggregations (state: a fixed handful of decimals — flat at any
  * event count). The rank tests need a cumulative over the ORDERED
  * distinct-value table; that runs in the two-phase bucketed form
  * ([[TimeSeries.weightedQuantilesFromWeights]]'s shape): per-value-
  * bucket windows plus a |buckets|-row carry, so no single WindowExec
  * group ever holds more than one bucket — the SCALE.md fourteenth/
  * fifteenth-finding treatment applied to the value axis.
  */
object Stats {

  private val dec = DecimalType(38, 0)
  private def d(c: Column): Column = c.cast(dec)
  private def dbl(c: Column): Column = c.cast("double")
  /** Floor division for possibly-negative n, den > 0 (the TimeSeries
    * idiom): (n − pmod(n, den)) is divisible by den, and the double
    * division is exact for |n| < 2^52. */
  private def floorDiv(n: Column, den: Column): Column =
    ((n - pmod(n, den)) / den).cast("long")
  /** Engine-shared 6-dp floor rounding (the momentStats/jaccard idiom). */
  private def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** [[r6]] for possibly-large doubles (variances of µ-values reach
    * 1e17+): Spark's floor(double) returns a LONG, so c·1e6 beyond
    * 2^63 clamps to Long.MaxValue — silently wrong. Below 4e9 the
    * scaled product stays under 2^52 (exact in the long conversion
    * AND as a double, so both engines agree bit-for-bit). Above 4e9
    * values pass through UNROUNDED: between 4e9 and 2^33 (~8.6e9,
    * where a double's ulp first exceeds 1e-6) they are representable
    * finer than 6 dp but are deliberately left raw to keep the scaled
    * product under 2^52; from 2^33 up, rounding would be the identity
    * anyway. So the column contract is "6-dp-quantized below 4e9, raw
    * above" — both engines take the same branch on the same operand →
    * identical bits either way. Oracle twin: [[r6bigSql]]. */
  private def r6big(c: Column): Column =
    when(abs(c) < lit(4.0e9), r6(c)).otherwise(c)

  /** DuckDB twin of [[r6big]] (DuckDB's floor keeps DOUBLE, so only
    * the branch structure needs mirroring, not an overflow guard). */
  private def r6bigSql(x: String): String =
    s"CASE WHEN abs($x) < 4e9 THEN floor(($x)*1e6 + 0.5)/1e6 ELSE ($x) END"

  private val vMicros = "CAST(round(value*1000000,0) AS BIGINT)"
  /** Arm predicate shared by the registered A/B queries: click vs view
    * engagement values. */
  private val armFilter = "event_type IN ('click','view')"
  private val armIsA = "event_type = 'click'"

  // ---------------------------------------------------------------- t-tests

  /** One row of exact partials for a two-sample mean test: counts and
    * Σv / Σv² per arm, flagged sums in a single hash aggregate (no
    * pivot, no join). varnum_g = n_g·Σv² − (Σv)² is the exact sample-
    * variance numerator: var_g = varnum_g / (n_g·(n_g−1)). */
  private def meanPartials(df: DataFrame, isA: Column, v: Column,
      keys: Seq[Column] = Nil): DataFrame = {
    val base = df.select(keys.zipWithIndex.map { case (k, i) =>
      k.as(s"k$i") } ++ Seq(isA.as("ga"), v.as("v")): _*)
    val aggs = Seq(
      sum(when(col("ga"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("ga"), d(col("v"))).otherwise(d(lit(0L)))).as("s1a"),
      sum(when(col("ga"), d(col("v")) * d(col("v"))).otherwise(d(lit(0L)))).as("s2a"),
      sum(when(!col("ga"), d(col("v"))).otherwise(d(lit(0L)))).as("s1b"),
      sum(when(!col("ga"), d(col("v")) * d(col("v"))).otherwise(d(lit(0L)))).as("s2b"))
    val grouped =
      if (keys.isEmpty) base.agg(aggs.head, aggs.tail: _*)
      else base.groupBy(keys.indices.map(i => col(s"k$i")): _*)
        .agg(aggs.head, aggs.tail: _*)
    grouped
      .withColumn("vna", d(col("n_a")) * col("s2a") - col("s1a") * col("s1a"))
      .withColumn("vnb", d(col("n_b")) * col("s2b") - col("s1b") * col("s1b"))
  }

  /** ClickHouse `welchTTest(v, arm)` analog: Welch's unequal-variance
    * t-statistic and Welch–Satterthwaite degrees of freedom for the
    * difference in means between arm A (`isA`) and arm B (!isA).
    * Caller pre-filters to the two arms; `v` is an integer µ-unit
    * column. One hash aggregate; output is one row.
    *
    * Output: (n_a, n_b, s1_a, s2_a, s1_b, s2_b STRING exact,
    *          mean_a, mean_b, t_stat r6, df_w r6). t/df are null when
    * either arm has <2 rows or both variances are zero. */
  /** Welch scalar derivation over a [[meanPartials]] frame — the one
    * shared source for the ungrouped and GROUP BY forms (they drifted
    * once: the grouped form silently stopped emitting s2_a/s2_b).
    * Emits `lead` columns first, then the shared tail. */
  private def welchSelect(p: DataFrame, lead: Seq[Column],
      withS2: Boolean): DataFrame = {
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val meanA = dbl(col("s1a")) / naD
    val meanB = dbl(col("s1b")) / nbD
    // se_g = var_g / n_g = varnum_g / (n_g² (n_g−1))
    val seA = dbl(col("vna")) / (naD * naD * (naD - lit(1.0)))
    val seB = dbl(col("vnb")) / (nbD * nbD * (nbD - lit(1.0)))
    val se = seA + seB
    val t = (meanA - meanB) / sqrt(se)
    val dfW = (se * se) /
      (seA * seA / (naD - lit(1.0)) + seB * seB / (nbD - lit(1.0)))
    val ok = col("n_a") > 1 && col("n_b") > 1 && se > lit(0.0)
    val s2 = if (withS2) Seq(col("s2a").cast("string").as("s2_a")) else Nil
    val s2b = if (withS2) Seq(col("s2b").cast("string").as("s2_b")) else Nil
    p.select(lead ++ Seq(col("n_a"), col("n_b"),
      col("s1a").cast("string").as("s1_a")) ++ s2 ++
      Seq(col("s1b").cast("string").as("s1_b")) ++ s2b ++ Seq(
      when(col("n_a") > 0, meanA).as("mean_a"),
      when(col("n_b") > 0, meanB).as("mean_b"),
      when(ok, r6(t)).as("t_stat"),
      when(ok, r6(dfW)).as("df_w")): _*)
  }

  def welchTTest(df: DataFrame, isA: Column, v: Column): DataFrame =
    welchSelect(meanPartials(df, isA, v), Nil, withS2 = true)

  /** [[welchTTest]] per group — the segmented dashboard form (`SELECT
    * welchTTest(v, arm) … GROUP BY segment` in ClickHouse). Same
    * one-pass exact partials keyed by `key`; output adds the leading
    * `k` column. Per-group state is still a fixed handful of decimals,
    * so the aggregate is skew-immune at any group cardinality. */
  def welchTTestBy(df: DataFrame, key: Column, isA: Column,
      v: Column): DataFrame =
    welchSelect(
      meanPartials(df, isA, v, Seq(key)).withColumnRenamed("k0", "k"),
      Seq(col("k")), withS2 = false)

  /** DuckDB replica of [[welchTTestBy]] keyed by the event's platform
    * cohort (user_id % 3). */
  val welchTTestByOracleSql: String =
    s"""WITH p AS (SELECT user_id % 3 AS k,
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS n_a,
 sum(CASE WHEN $armIsA THEN 0 ELSE 1 END) AS n_b,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1a,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2a,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) END) AS s1b,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) END) AS s2b
 FROM events WHERE $armFilter GROUP BY 1),
v AS (SELECT *, CAST(n_a AS DECIMAL(38,0))*s2a - s1a*s1a AS vna,
               CAST(n_b AS DECIMAL(38,0))*s2b - s1b*s1b AS vnb FROM p),
m AS (SELECT *,
 CAST(s1a AS DOUBLE)/CAST(n_a AS DOUBLE) AS mean_a,
 CAST(s1b AS DOUBLE)/CAST(n_b AS DOUBLE) AS mean_b,
 CAST(vna AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_a AS DOUBLE)*(CAST(n_a AS DOUBLE)-1.0)) AS sea,
 CAST(vnb AS DOUBLE)/(CAST(n_b AS DOUBLE)*CAST(n_b AS DOUBLE)*(CAST(n_b AS DOUBLE)-1.0)) AS seb
 FROM v)
SELECT k, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
 CAST(s1a AS VARCHAR) AS s1_a, CAST(s1b AS VARCHAR) AS s1_b,
 CASE WHEN n_a > 0 THEN mean_a END AS mean_a, CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
 CASE WHEN n_a > 1 AND n_b > 1 AND sea+seb > 0.0 THEN floor((mean_a-mean_b)/sqrt(sea+seb)*1e6+0.5)/1e6 END AS t_stat,
 CASE WHEN n_a > 1 AND n_b > 1 AND sea+seb > 0.0 THEN floor((sea+seb)*(sea+seb)/(sea*sea/(CAST(n_a AS DOUBLE)-1.0)+seb*seb/(CAST(n_b AS DOUBLE)-1.0))*1e6+0.5)/1e6 END AS df_w
FROM m"""

  /** ClickHouse `studentTTest(v, arm)` analog: pooled-variance Student
    * t-statistic, df = n_a + n_b − 2 (exact integer). Same one-pass
    * partials as [[welchTTest]].
    *
    * Output: (n_a, n_b, s1_a, s1_b STRING, mean_a, mean_b,
    *          t_stat r6, df_s LONG). */
  def studentTTest(df: DataFrame, isA: Column, v: Column): DataFrame = {
    val p = meanPartials(df, isA, v)
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val meanA = dbl(col("s1a")) / naD
    val meanB = dbl(col("s1b")) / nbD
    // (n_g−1)·var_g = varnum_g / n_g  →  pooled sp²
    val sp2 = (dbl(col("vna")) / naD + dbl(col("vnb")) / nbD) /
      (naD + nbD - lit(2.0))
    val t = (meanA - meanB) / sqrt(sp2 * (lit(1.0) / naD + lit(1.0) / nbD))
    val ok = col("n_a") > 1 && col("n_b") > 1 && sp2 > lit(0.0)
    p.select(col("n_a"), col("n_b"),
      col("s1a").cast("string").as("s1_a"), col("s1b").cast("string").as("s1_b"),
      when(col("n_a") > 0, meanA).as("mean_a"),
      when(col("n_b") > 0, meanB).as("mean_b"),
      when(ok, r6(t)).as("t_stat"),
      (col("n_a") + col("n_b") - lit(2L)).as("df_s"))
  }

  // ------------------------------------------------------------ rank tests

  /** Shared phase for the rank tests: the distinct-value table
    * (v, c_a, c_t) with BUCKETED cumulative totals — cw_t (both arms)
    * and cw_a (arm A) inclusive of the current value: a
    * [[Prefix.running]] sum over value buckets, no global window —
    * and the arm sizes n_a and n_t (both arms) on every row. */
  private def cumCounts(df: DataFrame, isA: Column, v: Column,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val byV = df.select(isA.as("ga"), v.as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("c_a"),
        count(lit(1)).as("c_t"))
    Prefix.running(byV.withColumn("b", floorDiv(col("v"), lit(bucketWidth))),
        Nil, "b", Seq(col("v")), Seq("cw_a" -> col("c_a"), "cw_t" -> col("c_t")),
        Prefix.Sum, Prefix.InclusiveRows)
      .select(col("v"), col("c_a"), col("c_t"), col("cw_a"), col("cw_t"),
        col("cw_a_total").as("n_a"), col("cw_t_total").as("n_t"))
  }

  /** ClickHouse `mannWhitneyUTest(v, arm)` analog: exact U statistics
    * via midranks over the distinct-value table, with the standard
    * tie-corrected normal approximation z. No continuity correction
    * (ClickHouse's default).
    *
    * Midranks are kept as INTEGER doubled ranks — rank2(v) =
    * 2·(#strictly-less) + count(v) + 1 = 2·cw_t − c_t + 1 — so
    * 2·R_a = Σ_v c_a·rank2 is an exact decimal and
    * 2·U_a = 2·R_a − n_a(n_a+1) an exact integer; doubles appear only
    * in the final z. Tie term Σ(t³−t) is an exact decimal too.
    *
    * Output: (n_a, n_b, u2_a, u2_b, tie_sum STRING exact,
    *          u_a DOUBLE = U_a, z r6 — null when the variance is 0). */
  def mannWhitneyU(df: DataFrame, isA: Column, v: Column,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val cum = cumCounts(df, isA, v, bucketWidth)
    val agg = cum.agg(
      sum(col("c_a")).as("n_a"),
      sum(col("c_t") - col("c_a")).as("n_b"),
      sum(d(col("c_a")) *
        d(lit(2L) * col("cw_t") - col("c_t") + lit(1L))).as("r2a"),
      sum(d(col("c_t")) * d(col("c_t")) * d(col("c_t")) - d(col("c_t")))
        .as("tie"))
    val u2a = col("r2a") - d(col("n_a")) * d(col("n_a") + lit(1L))
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val nD = naD + nbD
    val withU = agg
      .withColumn("u2a", u2a)
      .withColumn("u2b", d(lit(2L)) * d(col("n_a")) * d(col("n_b")) - u2a)
    val sig2 = naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - dbl(col("tie")) / (nD * (nD - lit(1.0))))
    val z = (dbl(col("u2a")) / lit(2.0) - naD * nbD / lit(2.0)) / sqrt(sig2)
    withU.select(col("n_a"), col("n_b"),
      col("u2a").cast("string").as("u2_a"),
      col("u2b").cast("string").as("u2_b"),
      col("tie").cast("string").as("tie_sum"),
      (dbl(col("u2a")) / lit(2.0)).as("u_a"),
      when(col("n_a") > 0 && col("n_b") > 0 && sig2 > lit(0.0), r6(z)).as("z"))
  }

  /** ClickHouse `arrayAUC(scores, labels)` analog over row-shaped
    * input: exact ROC AUC with the midrank tie convention,
    * AUC = U_pos / (n_pos·n_neg) — the probability a random positive
    * outscores a random negative, ties counting ½. Reuses the
    * [[mannWhitneyU]] doubled-rank identity: 2·R_pos = Σ_v c_pos·rank2
    * is an exact decimal, 2·U = 2·R_pos − n_pos(n_pos+1) an exact
    * integer, so AUC = u2/(2·n_pos·n_neg) is the only double.
    * ClickHouse materializes (scores, labels) arrays and sorts on one
    * host; the row form here is one distinct-score aggregation plus the
    * bucketed two-phase cumulative — no global sort, no array.
    *
    * Output: (n_pos, n_neg, u2_pos STRING exact, auc r6 — null when
    * either class is empty). */
  def rocAuc(df: DataFrame, isPos: Column, score: Column,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val cum = cumCounts(df, isPos, score, bucketWidth)
    val agg = cum.agg(
      sum(col("c_a")).as("n_pos"),
      sum(col("c_t") - col("c_a")).as("n_neg"),
      sum(d(col("c_a")) *
        d(lit(2L) * col("cw_t") - col("c_t") + lit(1L))).as("r2p"))
    val withU = agg.withColumn("u2",
      col("r2p") - d(col("n_pos")) * d(col("n_pos") + lit(1L)))
    withU.select(col("n_pos"), col("n_neg"),
      col("u2").cast("string").as("u2_pos"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        r6(dbl(col("u2")) /
          (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg"))))).as("auc"))
  }

  /** ClickHouse `kolmogorovSmirnovTest(v, arm)` analog: the exact
    * two-sample D statistic. D's numerator max_v |cw_a·n_b − cw_b·n_a|
    * is integer-exact (sup over value boundaries — the sup over ℝ of
    * |F_a−F_b| is attained at a sample point); the argmax value is
    * reported with a smallest-v tiebreak via one struct-max. The
    * asymptotic statistic z = D·√(n_a·n_b/(n_a+n_b)) is the number
    * ClickHouse feeds its p-value from.
    *
    * Output: (n_a, n_b, d_num STRING exact, at_v BIGINT,
    *          d_stat r6, ks_z r6). Empty arm → null stats. */
  def ksTest(df: DataFrame, isA: Column, v: Column,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val cum = cumCounts(df, isA, v, bucketWidth)
    // DECIMAL(38,0) products: cw·n reaches n_a·n_b, which passes
    // Long.MaxValue near 3e9 rows per arm and would wrap silently in
    // LongType (the DuckDB twin auto-promotes to HUGEINT)
    val dn = abs(d(col("cw_a")) * d(col("n_b")) -
      d(col("cw_t") - col("cw_a")) * d(col("n_a")))
    val mx = cum.withColumn("n_b", col("n_t") - col("n_a"))
      .select(col("n_a"), col("n_b"), dn.as("dn"), col("v"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(struct(col("dn"), (lit(0L) - col("v")).as("negv"))).as("mx"))
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val dStat = dbl(col("mx.dn")) / (naD * nbD)
    val ok = col("n_a") > 0 && col("n_b") > 0
    mx.select(col("n_a"), col("n_b"),
      col("mx.dn").cast("string").as("d_num"),
      (lit(0L) - col("mx.negv")).as("at_v"),
      when(ok, r6(dStat)).as("d_stat"),
      when(ok, r6(dStat * sqrt(naD * nbD / (naD + nbD)))).as("ks_z"))
  }

  /** ClickHouse `rankCorr(x, y)` analog: Spearman's ρ with the midrank
    * tie convention — the Pearson correlation of the rank variables.
    * Ranks are kept as INTEGER doubled midranks (rank2 = 2·cw_t − c_t
    * + 1, the [[mannWhitneyU]] identity applied per axis); the
    * uniform ×2 cancels in ρ, so all five correlation sums are exact
    * decimals and doubles appear only in the final ratio.
    *
    * Plan: one distinct-value rank table per axis (each the bucketed
    * two-phase cumulative — no global window), joined back onto the
    * row set (corpus-side sort-merge: the rank tables scale with
    * distinct values), then one exact-sum hash aggregate.
    *
    * Output: (n, su, sv, suu, svv, suv STRING exact, rho r6 — null
    * when either axis is constant). */
  def rankCorr(df: DataFrame, x: Column, y: Column,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val rows = df.select(x.as("x"), y.as("y"))
    def rankTable(axis: String): DataFrame =
      cumCounts(rows, lit(false), col(axis), bucketWidth)
        .select(col("v").as(axis),
          (lit(2L) * col("cw_t") - col("c_t") + lit(1L)).as(s"r_$axis"))
    val ranked = rows
      .join(Joins.corpusSide(rankTable("x")), "x")
      .join(Joins.corpusSide(rankTable("y")), "y")
    val agg = ranked.agg(
      count(lit(1)).as("n"),
      sum(d(col("r_x"))).as("su"),
      sum(d(col("r_y"))).as("sv"),
      sum(d(col("r_x")) * d(col("r_x"))).as("suu"),
      sum(d(col("r_y")) * d(col("r_y"))).as("svv"),
      sum(d(col("r_x")) * d(col("r_y"))).as("suv"))
    val nD = dbl(col("n"))
    val num = nD * dbl(col("suv")) - dbl(col("su")) * dbl(col("sv"))
    val dx = nD * dbl(col("suu")) - dbl(col("su")) * dbl(col("su"))
    val dy = nD * dbl(col("svv")) - dbl(col("sv")) * dbl(col("sv"))
    agg.select(col("n"),
      col("su").cast("string").as("su"), col("sv").cast("string").as("sv"),
      col("suu").cast("string").as("suu"), col("svv").cast("string").as("svv"),
      col("suv").cast("string").as("suv"),
      when(dx > lit(0.0) && dy > lit(0.0),
        r6(num / (sqrt(dx) * sqrt(dy)))).as("rho"))
  }

  /** ClickHouse `meanZTest(σ²_a, σ²_b, …)(v, arm)` analog: two-sample
    * z on the difference of means with KNOWN population variances —
    * the cheap pre-test a dashboard runs when arm variances are
    * pinned by historical data. Only the Σv partials are needed.
    *
    * Output: (n_a, n_b, s1_a, s1_b STRING, mean_a, mean_b, z r6 —
    * null when either arm is empty or both variances are 0). */
  def meanZTest(df: DataFrame, isA: Column, v: Column,
      varA: Double, varB: Double): DataFrame = {
    require(varA >= 0 && varB >= 0, "population variances must be >= 0")
    val p = df.select(isA.as("ga"), v.as("v"))
      .agg(
        sum(when(col("ga"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("ga"), d(col("v"))).otherwise(d(lit(0L)))).as("s1a"),
        sum(when(!col("ga"), d(col("v"))).otherwise(d(lit(0L)))).as("s1b"))
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val meanA = dbl(col("s1a")) / naD
    val meanB = dbl(col("s1b")) / nbD
    val se = lit(varA) / naD + lit(varB) / nbD
    val ok = col("n_a") > 0 && col("n_b") > 0 && se > lit(0.0)
    p.select(col("n_a"), col("n_b"),
      col("s1a").cast("string").as("s1_a"), col("s1b").cast("string").as("s1_b"),
      when(col("n_a") > 0, meanA).as("mean_a"),
      when(col("n_b") > 0, meanB).as("mean_b"),
      when(ok, r6((meanA - meanB) / sqrt(se))).as("z"))
  }

  /** ClickHouse `proportionsZTest(sx, sy, nx, ny, conf, usevar)` analog
    * — the last member of the hypothesis-test six (welch/student t,
    * meanZ, mannWhitneyU, kolmogorovSmirnov, proportionsZ): a
    * two-sample proportion z from ONE hash aggregate of exact counts.
    * p_g = x_g/n_g; pooled se uses p̂ = (x_a+x_b)/(n_a+n_b), unpooled
    * uses each arm's own variance (ClickHouse's usevar knob); the
    * conf-level CI on p_a − p_b uses the same se (the ClickHouse
    * behavior). The z-critical value is a caller-supplied IEEE literal
    * (1.959963984540054 for 95%) so both engines parse the identical
    * double — the p-value itself is omitted, the family's standing
    * z-only convention (no portable Φ). Doubles appear only after the
    * exact integer counts; every emitted double is r6.
    *
    * Output: (n_a, n_b, x_a, x_b, p_a, p_b, z, ci_lo, ci_hi). */
  def proportionsZTest(df: DataFrame, isA: Column, isSuccess: Column,
      pooled: Boolean = true,
      zCrit: Double = 1.959963984540054): DataFrame = {
    val p = df.select(isA.as("ga"), isSuccess.as("s"))
      .agg(
        sum(when(col("ga"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("ga") && col("s"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("ga") && col("s"), 1L).otherwise(0L)).as("x_b"))
    val naD = dbl(col("n_a")); val nbD = dbl(col("n_b"))
    val pa = dbl(col("x_a")) / naD
    val pb = dbl(col("x_b")) / nbD
    val se2 =
      if (pooled) {
        val ph = dbl(col("x_a") + col("x_b")) / dbl(col("n_a") + col("n_b"))
        ph * (lit(1.0) - ph) * (lit(1.0) / naD + lit(1.0) / nbD)
      } else pa * (lit(1.0) - pa) / naD + pb * (lit(1.0) - pb) / nbD
    val ok = col("n_a") > 0 && col("n_b") > 0 && se2 > lit(0.0)
    p.select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
      when(col("n_a") > 0, r6(pa)).as("p_a"),
      when(col("n_b") > 0, r6(pb)).as("p_b"),
      when(ok, r6((pa - pb) / sqrt(se2))).as("z"),
      when(ok, r6(pa - pb - lit(zCrit) * sqrt(se2))).as("ci_lo"),
      when(ok, r6(pa - pb + lit(zCrit) * sqrt(se2))).as("ci_hi"))
  }

  /** DuckDB replica of [[proportionsZTest]] over `events` with the
    * registered fixture's arms and success predicate. */
  def proportionsZTestOracleSql(successSql: String, pooled: Boolean = true,
      zCrit: Double = 1.959963984540054): String = {
    val se2 =
      if (pooled)
        "(CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE)) * (1.0 - CAST(x_a + x_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE)) * (1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE))"
      else
        "(CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE)) * (1.0 - CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE))/CAST(n_a AS DOUBLE) + (CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE)) * (1.0 - CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE))/CAST(n_b AS DOUBLE)"
    s"""WITH p AS (SELECT
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS n_a,
 sum(CASE WHEN $armIsA THEN 0 ELSE 1 END) AS n_b,
 sum(CASE WHEN $armIsA AND ($successSql) THEN 1 ELSE 0 END) AS x_a,
 sum(CASE WHEN NOT ($armIsA) AND ($successSql) THEN 1 ELSE 0 END) AS x_b
 FROM events WHERE $armFilter),
m AS (SELECT *, CAST(x_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa,
 CAST(x_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb, $se2 AS se2 FROM p)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
 CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
 CASE WHEN n_a > 0 THEN floor(pa*1e6+0.5)/1e6 END AS p_a,
 CASE WHEN n_b > 0 THEN floor(pb*1e6+0.5)/1e6 END AS p_b,
 CASE WHEN n_a > 0 AND n_b > 0 AND se2 > 0.0 THEN floor((pa-pb)/sqrt(se2)*1e6+0.5)/1e6 END AS z,
 CASE WHEN n_a > 0 AND n_b > 0 AND se2 > 0.0 THEN floor((pa-pb-$zCrit*sqrt(se2))*1e6+0.5)/1e6 END AS ci_lo,
 CASE WHEN n_a > 0 AND n_b > 0 AND se2 > 0.0 THEN floor((pa-pb+$zCrit*sqrt(se2))*1e6+0.5)/1e6 END AS ci_hi
FROM m"""
  }

  // ------------------------------------------- categorical association

  /** ClickHouse `corrMatrix(x1, …, xk)` analog: pairwise Pearson
    * correlations of k numeric columns from ONE pass of exact decimal
    * sums (n, Σxᵢ, Σxᵢ², Σxᵢxⱼ for every pair — k(k+3)/2 decimals of
    * aggregate state, map-side combinable), then a `stack` of the
    * k(k−1)/2 pair rows off the single one-row aggregate — one corpus
    * scan total, no matter how many pairs. corr is the only double
    * (r6), null when either side is constant.
    *
    * Output: (col_a, col_b, corr r6), one row per unordered pair in
    * input order. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    corrMatrixFromPartials(corrMatrixPartials(df, cols), cols.map(_._1))

  /** The one-row ADDITIVE partial table behind [[corrMatrix]]:
    * (k=0, n, s_i, ss_i, sp_i_j) — count and exact decimal sums, so
    * partials from disjoint chunks re-sum (grouped on the constant k)
    * to the whole-corpus row, which is what makes the SummingStore MV
    * twin exact. Aliases are POSITIONAL (s_0, sp_0_1): name-derived
    * aliases collide for underscore-bearing names ((a, b_c) vs
    * (a_b, c) both render sp_a_b_c), and display names only ever
    * appear as lit() values in the readout — never spliced into
    * parsed SQL. */
  def corrMatrixPartials(df: DataFrame,
      cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val names = cols.map(_._1)
    val named = df.select(cols.zipWithIndex.map {
      case ((_, c), i) => c.as(s"x_$i") }: _*)
    val idxPairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (i, j)
    val aggs = Seq(count(lit(1)).as("n")) ++
      names.indices.map(i => sum(d(col(s"x_$i"))).as(s"s_$i")) ++
      names.indices.map(i =>
        sum(d(col(s"x_$i")) * d(col(s"x_$i"))).as(s"ss_$i")) ++
      idxPairs.map { case (i, j) =>
        sum(d(col(s"x_$i")) * d(col(s"x_$j"))).as(s"sp_${i}_$j") }
    named.groupBy(lit(0L).as("k")).agg(aggs.head, aggs.tail: _*)
  }

  /** The additive-column list of [[corrMatrixPartials]] for `nCols`
    * input columns — the SummingStore re-sum spec of the MV twin. */
  def corrMatrixAddCols(nCols: Int): Seq[String] = {
    val idx = 0 until nCols
    Seq("n") ++ idx.map(i => s"s_$i") ++ idx.map(i => s"ss_$i") ++
      (for { i <- idx; j <- (i + 1) until nCols } yield s"sp_${i}_$j")
  }

  /** Pairwise-Pearson readout from the (merged) one-row partials —
    * shared by the one-shot [[corrMatrix]] and the MV-served
    * q_corr_matrix_inc twin, so batch/stream parity is structural. */
  def corrMatrixFromPartials(a: DataFrame, names: Seq[String]): DataFrame = {
    val idxPairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (i, j)
    val pairRows = idxPairs.map { case (i, j) =>
      val num = d(col("n")) * col(s"sp_${i}_$j") - col(s"s_$i") * col(s"s_$j")
      val vx = d(col("n")) * col(s"ss_$i") - col(s"s_$i") * col(s"s_$i")
      val vy = d(col("n")) * col(s"ss_$j") - col(s"s_$j") * col(s"s_$j")
      struct(lit(names(i)).as("col_a"), lit(names(j)).as("col_b"),
        when(dbl(vx) > lit(0.0) && dbl(vy) > lit(0.0),
          r6(dbl(num) / sqrt(dbl(vx) * dbl(vy)))).as("corr"))
    }
    a.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.corr"))
  }

  /** ClickHouse `categoricalInformationValue(cat, tag)` analog, kept
    * per-category: weight of evidence WoE_i = ln(p_i/q_i) and the IV
    * term (p_i − q_i)·WoE_i for each category of `cat` against a
    * binary tag, where p_i = pos_i/Σpos and q_i = neg_i/Σneg — the
    * standard feature-screening scorecard (total IV = Σ terms over
    * this |categories|-row output).
    *
    * Determinism: the ln argument is formed as
    * (pos_i·Σneg)/(Σpos·neg_i) in doubles mirrored operation-for-
    * operation by the oracle; the IV term is quantized to 1e-12
    * decimal (`iv_q`, exact string) per the [[cramersV]] discipline so
    * any cross-category summation a caller does is exact integer
    * arithmetic. Categories with an empty side (pos_i or neg_i = 0)
    * have infinite WoE — emitted as null woe/iv (documented ClickHouse
    * divergence: it returns ±inf into the sum).
    *
    * Plan: one |categories|-row hash agg, totals broadcast back.
    * Output: (cat, n_pos, n_neg, woe r6, iv_q STRING, iv r6). */
  def categoricalWoe(df: DataFrame, cat: Column, isPos: Column): DataFrame = {
    val per = df.select(cat.as("cat"), isPos.as("p"))
      .groupBy(col("cat"))
      .agg(sum(when(col("p"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("p"), 1L).otherwise(0L)).as("n_neg"))
    val tot = per.agg(sum(col("n_pos")).as("goods"),
      sum(col("n_neg")).as("bads"))
    val ok = col("n_pos") > 0 && col("n_neg") > 0 &&
      col("goods") > 0 && col("bads") > 0
    val woe = log((dbl(col("n_pos")) * dbl(col("bads"))) /
      (dbl(col("goods")) * dbl(col("n_neg"))))
    val term = (dbl(col("n_pos")) / dbl(col("goods")) -
      dbl(col("n_neg")) / dbl(col("bads"))) * woe
    val termQ = d(floor(term * lit(1e12) + lit(0.5)))
    per.crossJoin(broadcast(tot))
      .select(col("cat"), col("n_pos"), col("n_neg"),
        when(ok, r6(woe)).as("woe"),
        when(ok, termQ.cast("string")).as("iv_q"),
        when(ok, r6(dbl(termQ) / lit(1e12))).as("iv"))
  }

  /** ClickHouse `cramersV(a, b)` analog: Cramér's V from the
    * contingency table of two categorical columns. χ² is derived via
    * the margin-normalized identity χ² = n·(Σ_{a,b} o²/(r_a·c_b) − 1);
    * each cell's o²/(r_a·c_b) is quantized to 1e-12 BEFORE summing
    * (floor(x·1e12 + 0.5) → decimal), so the only double summation —
    * which engines order differently — never happens: the cell sum is
    * exact integer arithmetic.
    *
    * Plan: one contingency hash agg (|A|·|B| rows), two margin aggs
    * broadcast back onto it (margins are category-bounded), one final
    * one-row agg. Output: (n, r_card, c_card, cell_q STRING exact,
    * chi2 r6, v r6 — null when either cardinality is 1). */
  def cramersV(df: DataFrame, a: Column, b: Column): DataFrame = {
    val ct = df.select(a.as("a"), b.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = ct.groupBy(col("a")).agg(sum(col("o")).as("r_a"))
    val cb = ct.groupBy(col("b")).agg(sum(col("o")).as("c_b"))
    val joined = ct
      .join(broadcast(ra), "a")
      .join(broadcast(cb), "b")
    val cellQ = d(floor(dbl(col("o")) * dbl(col("o")) /
      (dbl(col("r_a")) * dbl(col("c_b"))) * lit(1e12) + lit(0.5)))
    val agg = joined.agg(
      sum(col("o")).as("n"),
      count_distinct(col("a")).as("r_card"),
      count_distinct(col("b")).as("c_card"),
      sum(cellQ).as("cell_q"))
    val nD = dbl(col("n"))
    val phi2 = dbl(col("cell_q")) / lit(1e12) - lit(1.0)
    val minDim = dbl(least(col("r_card"), col("c_card")) - lit(1L))
    val ok = col("r_card") > 1 && col("c_card") > 1
    // ClickHouse cramersVBiasCorrected: Bergsma's correction — shrink
    // φ² by its independence-expectation and the margins by their own
    // small-sample inflation, all from the same one-row aggregates.
    val rD = dbl(col("r_card")); val cD = dbl(col("c_card"))
    val phi2bc = greatest(
      phi2 - (rD - lit(1.0)) * (cD - lit(1.0)) / (nD - lit(1.0)), lit(0.0))
    val rBc = rD - (rD - lit(1.0)) * (rD - lit(1.0)) / (nD - lit(1.0))
    val cBc = cD - (cD - lit(1.0)) * (cD - lit(1.0)) / (nD - lit(1.0))
    val minBc = least(rBc, cBc) - lit(1.0)
    agg.select(col("n"), col("r_card"), col("c_card"),
      col("cell_q").cast("string").as("cell_q"),
      when(ok, r6(nD * phi2)).as("chi2"),
      when(ok, r6(sqrt(greatest(phi2, lit(0.0)) / minDim))).as("v"),
      when(ok && col("n") > 1 && minBc > lit(0.0),
        r6(sqrt(phi2bc / minBc))).as("v_bc"),
      // ClickHouse contingency(a,b): C = √(χ²/(χ²+n)) = √(φ²/(φ²+1))
      when(ok, r6(sqrt(greatest(phi2, lit(0.0)) /
        (greatest(phi2, lit(0.0)) + lit(1.0))))).as("c_coef"))
  }

  /** ClickHouse `theilsU(a, b)` analog: the uncertainty coefficient
    * U(a|b) = (H(A) − H(A|B)) / H(A) — how much knowing b reduces the
    * entropy of a (asymmetric, unlike Cramér's V). Every entropy TERM
    * −p·ln(q) is quantized to 1e-12 before summing (the UnigramLm ln
    * idiom), keeping both engines' sums exact-integer; ln appears only
    * inside the quantization.
    *
    * Output: (n, h_a_q, h_cond_q STRING exact, u r6 — null when
    * H(A) = 0, i.e. a is constant). */
  def theilsU(df: DataFrame, a: Column, b: Column): DataFrame = {
    val ct = df.select(a.as("a"), b.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = ct.groupBy(col("a")).agg(sum(col("o")).as("r_a"))
    val cb = ct.groupBy(col("b")).agg(sum(col("o")).as("c_b"))
    val tot = ra.agg(sum(col("r_a")).as("n"))
    // H(A) terms over the |A|-row margin table
    val haQ = ra.crossJoin(broadcast(tot))
      .select(d(floor(lit(-1.0) * dbl(col("r_a")) / dbl(col("n")) *
        log(dbl(col("r_a")) / dbl(col("n"))) * lit(1e12) + lit(0.5))).as("t"),
        col("n"))
      .groupBy(col("n")).agg(sum(col("t")).as("h_a_q"))
    // H(A|B) terms over the contingency table: −(o/n)·ln(o/c_b)
    val hcQ = ct.join(broadcast(cb), "b").crossJoin(broadcast(tot))
      .select(d(floor(lit(-1.0) * dbl(col("o")) / dbl(col("n")) *
        log(dbl(col("o")) / dbl(col("c_b"))) * lit(1e12) + lit(0.5))).as("t"),
        col("n"))
      .groupBy(col("n")).agg(sum(col("t")).as("h_cond_q"))
    val joinedQ = haQ.join(hcQ, "n")
    val u = (dbl(col("h_a_q")) - dbl(col("h_cond_q"))) / dbl(col("h_a_q"))
    joinedQ.select(col("n"),
      col("h_a_q").cast("string").as("h_a_q"),
      col("h_cond_q").cast("string").as("h_cond_q"),
      when(col("h_a_q") > 0, r6(u)).as("u"))
  }

  /** ClickHouse `simpleLinearRegression(x, y)` analog: least-squares
    * slope and intercept per group from one pass of exact decimal
    * sums — slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), intercept =
    * (Σy − slope·Σx)/n. The dashboard's trend line over an hourly
    * metric. Groups are bounded (one row per key); within-group state
    * is five decimals, so the aggregate is skew-immune.
    *
    * Output: (k, n, sx, sy, sxx, sxy STRING exact, slope r6,
    *          intercept r6 — null when x is constant in the group). */
  def linearRegression(df: DataFrame, key: Column, x: Column,
      y: Column): DataFrame = {
    val agg = df.select(key.as("k"), x.as("x"), y.as("y"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("x")) * d(col("y"))).as("sxy"))
    val nD = dbl(col("n"))
    val den = nD * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val slope = (nD * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) / den
    val intercept = (dbl(col("sy")) - slope * dbl(col("sx"))) / nD
    agg.select(col("k"), col("n"),
      col("sx").cast("string").as("sx"), col("sy").cast("string").as("sy"),
      col("sxx").cast("string").as("sxx"), col("sxy").cast("string").as("sxy"),
      when(den > lit(0.0), r6(slope)).as("slope"),
      when(den > lit(0.0), r6(intercept)).as("intercept"))
  }

  /** ClickHouse `entropy(v)` analog: Shannon entropy (bits) of a
    * column's value distribution. Each term −p·log2(p) is quantized
    * to 1e-12 BEFORE summing (the [[theilsU]] idiom), so the only
    * cross-engine double summation is exact-integer. One hash agg over
    * distinct values + a one-row total broadcast.
    *
    * Output: (n, card, h_q STRING exact, entropy_bits r6). */
  def columnEntropy(df: DataFrame, v: Column): DataFrame = {
    val counts = df.select(v.as("v")).groupBy(col("v"))
      .agg(count(lit(1)).as("o"))
    val tot = counts.agg(sum(col("o")).as("n"))
    val term = d(floor(lit(-1.0) * dbl(col("o")) / dbl(col("n")) *
      (log(dbl(col("o")) / dbl(col("n"))) / lit(math.log(2.0))) *
      lit(1e12) + lit(0.5)))
    counts.crossJoin(broadcast(tot))
      .select(term.as("t"), col("n"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("card"), sum(col("t")).as("h_q"))
      .select(col("n"), col("card"),
        col("h_q").cast("string").as("h_q"),
        r6(dbl(col("h_q")) / lit(1e12)).as("entropy_bits"))
  }

  /** ClickHouse `analysisOfVariance(v, group)` analog: one-way ANOVA
    * F-statistic across the groups of a categorical column. Per-group
    * exact decimal sums (one hash agg), then each group's squared-sum
    * term ⌊S1_g²/n_g⌋ is computed in EXACT integer decimal arithmetic
    * (S1_g² − pmod ≡ divisible, so the division is representation-
    * exact; HUGEINT floor-division in the oracle) before the
    * cross-group sum — group iteration order can never perturb it, and
    * the ≤1-unit floor loss per group is far below the 6-dp F
    * resolution. Then scalar math on one row:
    * SSB = Σ_g⌊S1_g²/n_g⌋ − (Σv)²/n, SSW = Σv² − Σ_g⌊S1_g²/n_g⌋,
    * F = (SSB/(G−1)) / (SSW/(n−G)).
    *
    * Output: (n, g_card, s1 STRING exact, sq_q STRING exact,
    *          f_stat r6, df_between, df_within LONG — f null when
    * G < 2, n ≤ G, or SSW = 0). */
  def anovaF(df: DataFrame, v: Column, group: Column): DataFrame =
    anovaFromPartials(anovaPartials(df, v, group))

  /** Per-group ADDITIVE partials (ng, s1g, s2g) — the micro-batch
    * map-side shape of [[anovaF]]. Partials from disjoint chunks sum
    * per group to the whole-corpus partials (count and decimal sums
    * are associative+commutative), which is what makes the live
    * SummingStore MV twin exact: land one partial part per batch, and
    * the merge-on-read re-sum is bit-identical to a one-shot build. */
  def anovaPartials(df: DataFrame, v: Column, group: Column): DataFrame =
    df.select(group.as("g"), v.as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(d(col("v"))).as("s1g"),
        sum(d(col("v")) * d(col("v"))).as("s2g"))

  /** Scalar F from merged per-group partials — shared by the one-shot
    * [[anovaF]] and the MV-served q_anova_inc twin, so batch/stream
    * parity is structural (one code path), not re-implemented. */
  def anovaFromPartials(per: DataFrame): DataFrame = {
    val sq = col("s1g") * col("s1g")
    val ngD = d(col("ng"))
    val termG = ((sq - pmod(sq, ngD)) / ngD).cast(dec)
    val agg = per.agg(
      sum(col("ng")).as("n"),
      count(lit(1)).as("g_card"),
      sum(col("s1g")).as("s1"),
      sum(col("s2g")).as("s2"),
      sum(termG).as("sq_q"))
    val nD = dbl(col("n")); val gD = dbl(col("g_card"))
    val sqTerms = dbl(col("sq_q"))
    val ssb = sqTerms - dbl(col("s1")) * dbl(col("s1")) / nD
    val ssw = dbl(col("s2")) - sqTerms
    val f = (ssb / (gD - lit(1.0))) / (ssw / (nD - gD))
    val ok = col("g_card") > 1 && col("n") > col("g_card") && ssw > lit(0.0)
    agg.select(col("n"), col("g_card"),
      col("s1").cast("string").as("s1"),
      col("sq_q").cast("string").as("sq_q"),
      when(ok, r6(f)).as("f_stat"),
      (col("g_card") - lit(1L)).as("df_between"),
      (col("n") - col("g_card")).as("df_within"))
  }

  /** ClickHouse `histogram(N)(v)` analog, made DETERMINISTIC: an exact
    * equi-depth histogram. ClickHouse's adaptive streaming histogram is
    * merge-order-dependent; the reproducible contract here assigns each
    * DISTINCT value wholly to the bin of its first element's rank —
    * bin = min(N−1, (cw − c)·N div n), all integer arithmetic — and
    * reports per-bin (lo, hi, cnt). Ties therefore never split across
    * bins, so bin counts are ~n/N ± the largest tie group, which is the
    * standard equi-depth convention.
    *
    * Plan: the bucketed two-phase cumulative (no global window; the
    * total n rides on its carry join) + an N-row hash agg. */
  def equiDepthHistogram(df: DataFrame, v: Column, nBins: Int,
      bucketWidth: Long = 1L << 20): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val binned = cumCounts(df, lit(false), v, bucketWidth)
      .select(col("v"), col("c_t"), col("n_t").as("n"),
        least(lit(nBins - 1L),
          expr(s"(cw_t - c_t) * $nBins div n")).as("bin"))
    binned.groupBy(col("bin"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("c_t")).as("cnt"))
  }

  /** ClickHouse `seriesOutliersDetectTukey` analog, table-form: per
    * key, exact type-1 quartiles over the distinct-value table, then
    * Tukey fences at q1 − (num/den)·IQR and q3 + (num/den)·IQR — the
    * default 3/2 is the classic 1.5×IQR rule. The fence test is exact
    * RATIONAL arithmetic (den·v < den·q1 − num·IQR), so no float ever
    * enters the classification.
    *
    * Plan: the per-key cumulative count is a [[Prefix.running]] sum
    * over (key, value-bucket) windows, then a category-bounded
    * quartile table broadcast back, one summary hash agg.
    *
    * Output: (k, q1, q3 BIGINT, n_low, n_high BIGINT). */
  def tukeyOutliers(df: DataFrame, key: Column, v: Column,
      fenceNum: Int = 3, fenceDen: Int = 2,
      bucketWidth: Long = 1L << 20): DataFrame = {
    require(fenceNum >= 0 && fenceDen > 0, "fence must be a rational >= 0")
    require(bucketWidth > 0, "bucketWidth must be positive")
    val byV = df.select(key.as("k"), v.as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
    val quants = Prefix.running(byV.withColumn("b", floorDiv(col("v"), lit(bucketWidth))),
        Seq("k"), "b", Seq(col("v")), Seq("cw" -> col("c")), Prefix.Sum, Prefix.InclusiveRows)
      .groupBy(col("k"))
      .agg(min(when(col("cw") * 4 >= col("cw_total"), col("v"))).as("q1"),
        min(when(col("cw") * 4 >= lit(3L) * col("cw_total"), col("v"))).as("q3"))
    val iqr = col("q3") - col("q1")
    val lowCond = lit(fenceDen.toLong) * col("v") <
      lit(fenceDen.toLong) * col("q1") - lit(fenceNum.toLong) * iqr
    val highCond = lit(fenceDen.toLong) * col("v") >
      lit(fenceDen.toLong) * col("q3") + lit(fenceNum.toLong) * iqr
    byV.join(broadcast(quants), "k")
      .groupBy(col("k"), col("q1"), col("q3"))
      .agg(sum(when(lowCond, col("c")).otherwise(lit(0L))).as("n_low"),
        sum(when(highCond, col("c")).otherwise(lit(0L))).as("n_high"))
  }

  /** DuckDB replica of [[tukeyOutliers]] (single-window spec) over
    * (event_type, µ-value) at the default 3/2 fence. */
  val tukeyOutliersOracleSql: String =
    s"""WITH byv AS (SELECT event_type AS k, $vMicros AS v, count(*) AS c FROM events GROUP BY 1, 2),
cum AS (SELECT k, v, c, sum(c) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM byv),
tot AS (SELECT k, sum(c) AS tw FROM byv GROUP BY 1),
qs AS (SELECT cum.k, min(CASE WHEN cw*4 >= tw THEN v END) AS q1, min(CASE WHEN cw*4 >= 3*tw THEN v END) AS q3 FROM cum JOIN tot ON cum.k = tot.k GROUP BY 1),
o AS (SELECT byv.k, q1, q3,
 sum(CASE WHEN 2*v < 2*q1 - 3*(q3-q1) THEN c ELSE 0 END) AS n_low,
 sum(CASE WHEN 2*v > 2*q3 + 3*(q3-q1) THEN c ELSE 0 END) AS n_high
 FROM byv JOIN qs ON byv.k = qs.k GROUP BY 1, 2, 3)
SELECT k, q1, q3, CAST(n_low AS BIGINT) AS n_low, CAST(n_high AS BIGINT) AS n_high FROM o"""

  // -------------------------------------------------------------- CUPED

  /** CUPED variance reduction (Deng et al., WSDM'13 — the standard
    * industry A/B-test post-stratification; ClickHouse exposes the
    * same family as `varianceReduction`-style dashboard math): adjust
    * each unit's experiment-period metric Y by its PRE-experiment
    * metric X, Ŷ = Y − θ·(X − μ_X), θ = cov(X,Y)/var(X) pooled. The
    * adjusted means preserve the treatment-effect estimate (θ·μ_X
    * cancels between arms) while the variance drops by the factor
    * (1 − ρ²) — the engine a dashboard needs to call experiments
    * earlier on the reference's engagement stream.
    *
    * Decomposition (everything exact until the final scalar row):
    * 1. per-UNIT pre/post sums — one hash aggregate over events;
    * 2. per-ARM exact partials n, Σx, Σy, Σx², Σy², Σxy in
    *    DecimalType(38,0) — a 2-row table;
    * 3. pooled partials = the sum of the arm rows (associativity of
    *    the partials IS the CUPED identity here);
    * 4. scalar doubles: θ, μ_X, adjusted mean and adjusted variance
    *    per arm, each op mirrored in [[cupedOracleSql]] and r6-floored.
    *
    * var_adj_g = var(Y) − 2θ·cov_g(X,Y) + θ²·var_g(X), all sample
    * (n−1) forms from the same exact partials.
    *
    * Scale: two hash aggregates (unit, then arm) — both map-side
    * combinable with fixed per-group state — and scalar math on a
    * 2-row table. No window, no join against the fact. */
  def cuped(df: DataFrame, unit: Column, arm: Column, isPre: Column,
      v: Column): DataFrame = {
    val perUnit = df
      .select(unit.as("u"), arm.as("arm"), isPre.as("pre"), v.as("v"))
      .groupBy(col("u"), col("arm"))
      .agg(sum(when(col("pre"), col("v")).otherwise(lit(0L))).as("x"),
        sum(when(!col("pre"), col("v")).otherwise(lit(0L))).as("y"))
    val perArm = perUnit.groupBy(col("arm")).agg(
      count(lit(1)).as("n_g"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x")) * d(col("x"))).as("sxx"),
      sum(d(col("y")) * d(col("y"))).as("syy"),
      sum(d(col("x")) * d(col("y"))).as("sxy"))
    val pooled = perArm.agg(
      sum(col("n_g")).as("n"), sum(col("sx")).as("psx"),
      sum(col("sy")).as("psy"), sum(col("sxx")).as("psxx"),
      sum(col("sxy")).as("psxy"))
    val j = perArm.crossJoin(pooled)
    val covnum = d(col("n")) * col("psxy") - col("psx") * col("psy")
    val varnum = d(col("n")) * col("psxx") - col("psx") * col("psx")
    val theta = when(varnum === d(lit(0L)), lit(0.0))
      .otherwise(dbl(covnum) / dbl(varnum))
    val muX = dbl(col("psx")) / dbl(col("n"))
    val ngD = dbl(col("n_g"))
    val meanY = dbl(col("sy")) / ngD
    val meanX = dbl(col("sx")) / ngD
    val denom = ngD * (ngD - lit(1.0))
    val varY = dbl(d(col("n_g")) * col("syy") - col("sy") * col("sy")) / denom
    val varX = dbl(d(col("n_g")) * col("sxx") - col("sx") * col("sx")) / denom
    val covG = dbl(d(col("n_g")) * col("sxy") - col("sx") * col("sy")) / denom
    val ok = col("n_g") > 1
    j.select(col("arm"), col("n_g").as("n_units"),
      col("sx").cast("string").as("s_pre"),
      col("sy").cast("string").as("s_post"),
      r6(theta).as("theta"),
      when(col("n_g") > 0, r6(meanY)).as("mean_post"),
      when(col("n_g") > 0, r6(meanY - theta * (meanX - muX))).as("mean_adj"),
      when(ok, r6big(varY)).as("var_post"),
      when(ok, r6big(varY - lit(2.0) * theta * covG + theta * theta * varX))
        .as("var_adj"))
  }

  /** Φ⁻¹(0.975) / Φ⁻¹(0.80) — the two-sided-α=0.05, power=0.8 normal
    * quantiles ClickHouse's minSampleSize* defaults hardcode; shared
    * literals so the oracle splices the SAME bits. */
  val Z975 = 1.9599639845400545
  val Z80 = 0.8416212335729143

  /** ClickHouse `minSampleSizeContinous` (sic), table form: per group,
    * the per-arm sample size needed to detect a `mdeRelPct`% change of
    * the group's own observed mean at two-sided α=0.05 / power 0.8 —
    * n = (z_{α/2}+z_{pow})²·2σ²/Δ², Δ = mean·pct/100, σ² the sample
    * variance from the same exact decimal partials as [[welchTTest]].
    * The experiment-PLANNING half of the A/B tier ([[cupedWelch]] is
    * the readout half). n_needed null when the mean or variance
    * degenerates. One hash aggregate; scalar math per group row. */
  def minSampleSizeContinuous(df: DataFrame, group: Column, v: Column,
      mdeRelPct: Int = 5): DataFrame = {
    require(mdeRelPct > 0, "mdeRelPct must be positive")
    val per = df.select(group.as("g"), v.as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(d(col("v"))).as("s1"),
        sum(d(col("v")) * d(col("v"))).as("s2"))
    val mean = dbl(col("s1")) / dbl(col("n"))
    val varS = dbl(d(col("n")) * col("s2") - col("s1") * col("s1")) /
      (dbl(col("n")) * (dbl(col("n")) - lit(1.0)))
    val delta = mean * lit(mdeRelPct / 100.0)
    val zsum2 = lit((Z975 + Z80) * (Z975 + Z80))
    // the n(n-1) divisions sit INSIDE when(n > 1, ...): CaseWhen
    // short-circuits per row, so a singleton group never evaluates
    // them (ANSI mode turns /0 into an error, not Infinity)
    val sized = col("n") > 1
    per.select(col("g"), col("n"),
      r6(mean).as("mean"), when(sized, r6big(varS)).as("variance"),
      r6(delta).as("mde_abs"),
      when(sized, when(delta =!= lit(0.0) && varS > lit(0.0),
        ceil(zsum2 * lit(2.0) * varS / (delta * delta))
          .cast("long"))).as("n_needed"))
  }

  /** DuckDB replica of [[minSampleSizeContinuous]] over events by
    * event_type on the µ-value, 5% relative MDE. */
  lazy val minSampleSizeContinuousOracleSql: String =
    s"""WITH per AS (SELECT event_type AS g, count(*) AS n,
 sum(CAST($vMicros AS DECIMAL(38,0))) AS s1,
 sum(CAST($vMicros AS DECIMAL(38,0))*CAST($vMicros AS DECIMAL(38,0))) AS s2
 FROM events GROUP BY 1),
m AS (SELECT g, n, CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS mean,
 CASE WHEN n > 1 THEN CAST(CAST(n AS DECIMAL(38,0))*s2 - s1*s1 AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) END AS vs
 FROM per),
t AS (SELECT g, n, mean, vs, mean * 0.05 AS delta FROM m)
SELECT g, n, floor(mean*1e6 + 0.5)/1e6 AS mean,
 CASE WHEN n > 1 THEN ${r6bigSql("vs")} END AS variance,
 floor(delta*1e6 + 0.5)/1e6 AS mde_abs,
 CASE WHEN n > 1 AND delta <> 0.0 AND vs > 0.0
      THEN CAST(ceil(${(Z975 + Z80) * (Z975 + Z80)} * 2.0 * vs / (delta * delta)) AS BIGINT) END AS n_needed
FROM t"""

  /** ClickHouse `minSampleSizeConversion`, table form: per group, the
    * per-arm sample size to detect a `upliftRelPct`% relative lift of
    * the group's observed conversion rate p₁ (to p₂ = p₁·(1+pct/100))
    * at two-sided α=0.05 / power 0.8, by the standard two-proportion
    * form n = (z_{α/2}·√(2p̄(1−p̄)) + z_{pow}·√(p₁(1−p₁)+p₂(1−p₂)))²/Δ²
    * with p̄ = (p₁+p₂)/2, Δ = p₁·pct/100. Null when p₁ degenerates
    * (0, or p₂ ≥ 1). */
  def minSampleSizeConversion(df: DataFrame, group: Column, isConv: Column,
      upliftRelPct: Int = 10): DataFrame = {
    require(upliftRelPct > 0, "upliftRelPct must be positive")
    val per = df.select(group.as("g"), isConv.as("c"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c"), 1L).otherwise(0L)).as("conv"))
    val p1 = dbl(col("conv")) / dbl(col("n"))
    val p2 = p1 * lit(1.0 + upliftRelPct / 100.0)
    val delta = p1 * lit(upliftRelPct / 100.0)
    val pbar = (p1 + p2) / lit(2.0)
    val num = lit(Z975) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(Z80) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    val ok = p1 > lit(0.0) && p2 < lit(1.0)
    per.select(col("g"), col("n"), col("conv"),
      r6(p1).as("p1"), r6(p2).as("p2"),
      when(ok, ceil(num * num / (delta * delta)).cast("long")).as("n_needed"))
  }

  /** DuckDB replica of [[minSampleSizeConversion]] over events by
    * event_type, conversion = µ-value above 1e6, 10% relative lift. */
  lazy val minSampleSizeConversionOracleSql: String =
    s"""WITH per AS (SELECT event_type AS g, count(*) AS n,
 sum(CASE WHEN $vMicros > 1000000 THEN 1 ELSE 0 END) AS conv
 FROM events GROUP BY 1),
m AS (SELECT g, n, conv, CAST(conv AS DOUBLE)/CAST(n AS DOUBLE) AS p1 FROM per),
t AS (SELECT m.*, p1 * 1.1 AS p2, p1 * 0.1 AS delta FROM m),
u AS (SELECT t.*, (p1 + p2)/2.0 AS pbar FROM t),
w AS (SELECT u.*, CASE WHEN p1 > 0.0 AND p2 < 1.0 THEN $Z975 * sqrt(2.0 * pbar * (1.0 - pbar)) + $Z80 * sqrt(p1*(1.0-p1) + p2*(1.0-p2)) END AS num FROM u)
SELECT g, n, CAST(conv AS BIGINT) AS conv,
 floor(p1*1e6 + 0.5)/1e6 AS p1, floor(p2*1e6 + 0.5)/1e6 AS p2,
 CASE WHEN p1 > 0.0 AND p2 < 1.0
      THEN CAST(ceil(num * num / (delta * delta)) AS BIGINT) END AS n_needed
FROM w"""

  /** CUPED composed into the A/B readout — the actual industry
    * workflow the Stats module mimics: one row reporting the RAW
    * Welch-style t (unit-level means/variances) next to the
    * VARIANCE-REDUCED t over the CUPED-adjusted metric, plus the
    * realized variance-reduction ratio 1 − Σvar_adj/Σvar_post. Arms
    * must be the two values 0/1 of `arm` (the registered query uses
    * user parity). Built ON [[cuped]]'s per-arm output (the rounded
    * per-arm row is the published contract; the composition mirrors
    * its doubles operation-for-operation in the oracle), so the
    * whole thing stays two hash aggregates + scalar math on 2 rows.
    *
    * se² per arm is var_g/n_g (unit-level t — units are the
    * randomization grain, the standard guard against within-user
    * correlation). t null when either arm is a singleton. */
  def cupedWelch(df: DataFrame, unit: Column, arm: Column, isPre: Column,
      v: Column): DataFrame = {
    val c = cuped(df, unit, arm, isPre, v)
    def side(a: Int, sfx: String) = c.filter(col("arm") === a).select(
      col("n_units").as(s"n_$sfx"), col("mean_post").as(s"mp_$sfx"),
      col("mean_adj").as(s"ma_$sfx"), col("var_post").as(s"vp_$sfx"),
      col("var_adj").as(s"va_$sfx"), col("theta").as(s"th_$sfx"))
    val j = side(0, "a").crossJoin(side(1, "b"))
    def t(mA: Column, mB: Column, vA: Column, vB: Column): Column = {
      val se2 = vA / dbl(col("n_a")) + vB / dbl(col("n_b"))
      when(col("n_a") > 1 && col("n_b") > 1 && se2 > lit(0.0),
        r6((mB - mA) / sqrt(se2)))
    }
    j.select(col("n_a"), col("n_b"), col("th_a").as("theta"),
      t(col("mp_a"), col("mp_b"), col("vp_a"), col("vp_b")).as("t_raw"),
      t(col("ma_a"), col("ma_b"), col("va_a"), col("va_b")).as("t_adj"),
      when(col("vp_a") + col("vp_b") > lit(0.0),
        r6(lit(1.0) - (col("va_a") + col("va_b")) /
          (col("vp_a") + col("vp_b")))).as("var_reduction"))
  }

  /** DuckDB replica of [[cupedWelch]]: the [[cupedOracleSql]] CTE
    * self-joined on arm, every double op mirrored. (lazy: it splices
    * cupedOracleSql, which is declared later in this object — an
    * eager val would capture null at init order.) */
  lazy val cupedWelchOracleSql: String =
    s"""WITH cup AS ($cupedOracleSql),
a AS (SELECT * FROM cup WHERE arm = 0), b AS (SELECT * FROM cup WHERE arm = 1),
j AS (SELECT a.n_units AS n_a, b.n_units AS n_b, a.theta AS theta,
 a.mean_post AS mp_a, b.mean_post AS mp_b, a.mean_adj AS ma_a, b.mean_adj AS ma_b,
 a.var_post AS vp_a, b.var_post AS vp_b, a.var_adj AS va_a, b.var_adj AS va_b
 FROM a, b)
SELECT n_a, n_b, theta,
 CASE WHEN n_a > 1 AND n_b > 1 AND vp_a/CAST(n_a AS DOUBLE) + vp_b/CAST(n_b AS DOUBLE) > 0.0
      THEN floor((mp_b - mp_a)/sqrt(vp_a/CAST(n_a AS DOUBLE) + vp_b/CAST(n_b AS DOUBLE))*1e6+0.5)/1e6 END AS t_raw,
 CASE WHEN n_a > 1 AND n_b > 1 AND va_a/CAST(n_a AS DOUBLE) + va_b/CAST(n_b AS DOUBLE) > 0.0
      THEN floor((ma_b - ma_a)/sqrt(va_a/CAST(n_a AS DOUBLE) + va_b/CAST(n_b AS DOUBLE))*1e6+0.5)/1e6 END AS t_adj,
 CASE WHEN vp_a + vp_b > 0.0
      THEN floor((1.0 - (va_a + va_b)/(vp_a + vp_b))*1e6+0.5)/1e6 END AS var_reduction
FROM j"""

  /** DuckDB replica of [[cuped]] over the registered fixture: unit =
    * user_id, arm = user_id % 2, pre/post split at the midpoint of the
    * event time range (exact epoch-µs integer midpoint), metric = the
    * µ-unit engagement value. Every double op mirrors the Spark
    * expressions operation-for-operation. */
  val cupedOracleSql: String =
    s"""WITH b AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid FROM events),
pu AS (SELECT user_id AS u, user_id % 2 AS arm,
 sum(CASE WHEN epoch_us(ts) < mid THEN $vMicros ELSE 0 END) AS x,
 sum(CASE WHEN epoch_us(ts) >= mid THEN $vMicros ELSE 0 END) AS y
 FROM events, b GROUP BY 1, 2),
pa AS (SELECT arm, count(*) AS n_g,
 sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
 sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
 sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
 sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
 FROM pu GROUP BY 1),
pl AS (SELECT sum(n_g) AS n, sum(sx) AS psx, sum(sy) AS psy,
 sum(sxx) AS psxx, sum(sxy) AS psxy FROM pa),
m AS (SELECT pa.*, pl.n, pl.psx,
 CAST(pl.n AS DECIMAL(38,0))*pl.psxy - pl.psx*pl.psy AS covnum,
 CAST(pl.n AS DECIMAL(38,0))*pl.psxx - pl.psx*pl.psx AS varnum
 FROM pa, pl),
t AS (SELECT m.*,
 CASE WHEN varnum = 0 THEN 0.0 ELSE CAST(covnum AS DOUBLE)/CAST(varnum AS DOUBLE) END AS theta,
 CAST(psx AS DOUBLE)/CAST(n AS DOUBLE) AS mu_x,
 CAST(sy AS DOUBLE)/CAST(n_g AS DOUBLE) AS mean_y,
 CAST(sx AS DOUBLE)/CAST(n_g AS DOUBLE) AS mean_x,
 CAST(n_g AS DOUBLE)*(CAST(n_g AS DOUBLE)-1.0) AS den,
 CAST(CAST(n_g AS DECIMAL(38,0))*syy - sy*sy AS DOUBLE) AS vny,
 CAST(CAST(n_g AS DECIMAL(38,0))*sxx - sx*sx AS DOUBLE) AS vnx,
 CAST(CAST(n_g AS DECIMAL(38,0))*sxy - sx*sy AS DOUBLE) AS cvn
 FROM m)
SELECT arm, n_g AS n_units, CAST(sx AS VARCHAR) AS s_pre, CAST(sy AS VARCHAR) AS s_post,
 floor(theta*1e6 + 0.5)/1e6 AS theta,
 CASE WHEN n_g > 0 THEN floor((mean_y)*1e6 + 0.5)/1e6 END AS mean_post,
 CASE WHEN n_g > 0 THEN floor((mean_y - theta*(mean_x - mu_x))*1e6 + 0.5)/1e6 END AS mean_adj,
 CASE WHEN n_g > 1 THEN ${r6bigSql("vny/den")} END AS var_post,
 CASE WHEN n_g > 1 THEN ${r6bigSql("vny/den - 2.0*theta*(cvn/den) + theta*theta*(vnx/den)")} END AS var_adj
FROM t"""

  // ------------------------------------------------------------- oracles


  /** DuckDB replica of [[welchTTest]] over events, click-vs-view on
    * µ-unit value — every double op mirrors the Spark expressions. */
  val welchTTestOracleSql: String =
    s"""WITH p AS (SELECT
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS n_a,
 sum(CASE WHEN $armIsA THEN 0 ELSE 1 END) AS n_b,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1a,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2a,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) END) AS s1b,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) END) AS s2b
 FROM events WHERE $armFilter),
v AS (SELECT *, CAST(n_a AS DECIMAL(38,0))*s2a - s1a*s1a AS vna,
               CAST(n_b AS DECIMAL(38,0))*s2b - s1b*s1b AS vnb FROM p),
m AS (SELECT *,
 CAST(s1a AS DOUBLE)/CAST(n_a AS DOUBLE) AS mean_a,
 CAST(s1b AS DOUBLE)/CAST(n_b AS DOUBLE) AS mean_b,
 CAST(vna AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_a AS DOUBLE)*(CAST(n_a AS DOUBLE)-1.0)) AS sea,
 CAST(vnb AS DOUBLE)/(CAST(n_b AS DOUBLE)*CAST(n_b AS DOUBLE)*(CAST(n_b AS DOUBLE)-1.0)) AS seb
 FROM v)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
 CAST(s1a AS VARCHAR) AS s1_a, CAST(s2a AS VARCHAR) AS s2_a,
 CAST(s1b AS VARCHAR) AS s1_b, CAST(s2b AS VARCHAR) AS s2_b, mean_a, mean_b,
 CASE WHEN n_a > 1 AND n_b > 1 AND sea+seb > 0.0 THEN floor((mean_a-mean_b)/sqrt(sea+seb)*1e6+0.5)/1e6 END AS t_stat,
 CASE WHEN n_a > 1 AND n_b > 1 AND sea+seb > 0.0 THEN floor((sea+seb)*(sea+seb)/(sea*sea/(CAST(n_a AS DOUBLE)-1.0)+seb*seb/(CAST(n_b AS DOUBLE)-1.0))*1e6+0.5)/1e6 END AS df_w
FROM m"""

  /** DuckDB replica of [[studentTTest]] (same arms/units). */
  val studentTTestOracleSql: String =
    s"""WITH p AS (SELECT
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS n_a,
 sum(CASE WHEN $armIsA THEN 0 ELSE 1 END) AS n_b,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1a,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2a,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) END) AS s1b,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) * CAST($vMicros AS DECIMAL(38,0)) END) AS s2b
 FROM events WHERE $armFilter),
v AS (SELECT *, CAST(n_a AS DECIMAL(38,0))*s2a - s1a*s1a AS vna,
               CAST(n_b AS DECIMAL(38,0))*s2b - s1b*s1b AS vnb FROM p),
m AS (SELECT *,
 CAST(s1a AS DOUBLE)/CAST(n_a AS DOUBLE) AS mean_a,
 CAST(s1b AS DOUBLE)/CAST(n_b AS DOUBLE) AS mean_b,
 (CAST(vna AS DOUBLE)/CAST(n_a AS DOUBLE) + CAST(vnb AS DOUBLE)/CAST(n_b AS DOUBLE))/(CAST(n_a AS DOUBLE)+CAST(n_b AS DOUBLE)-2.0) AS sp2
 FROM v)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, CAST(s1a AS VARCHAR) AS s1_a, CAST(s1b AS VARCHAR) AS s1_b,
 mean_a, mean_b,
 CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0.0 THEN floor((mean_a-mean_b)/sqrt(sp2*(1.0/CAST(n_a AS DOUBLE)+1.0/CAST(n_b AS DOUBLE)))*1e6+0.5)/1e6 END AS t_stat,
 CAST(n_a + n_b - 2 AS BIGINT) AS df_s
FROM m"""

  /** DuckDB replica of [[mannWhitneyU]] — the spec keeps the SINGLE
    * global cumulative window; Spark's bucketed two-phase execution must
    * reproduce it exactly. */
  val mannWhitneyUOracleSql: String =
    s"""WITH byv AS (SELECT $vMicros AS v,
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS c_a, count(*) AS c_t
 FROM events WHERE $armFilter GROUP BY 1),
cum AS (SELECT v, c_a, c_t,
 sum(c_t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw_t
 FROM byv),
agg AS (SELECT sum(c_a) AS n_a, sum(c_t - c_a) AS n_b,
 sum(CAST(c_a AS DECIMAL(38,0)) * CAST(2*cw_t - c_t + 1 AS DECIMAL(38,0))) AS r2a,
 sum(CAST(c_t AS DECIMAL(38,0))*CAST(c_t AS DECIMAL(38,0))*CAST(c_t AS DECIMAL(38,0)) - CAST(c_t AS DECIMAL(38,0))) AS tie
 FROM cum),
u AS (SELECT *, r2a - CAST(n_a AS DECIMAL(38,0))*CAST(n_a + 1 AS DECIMAL(38,0)) AS u2a FROM agg),
m AS (SELECT *, CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
 CAST(n_a AS DOUBLE)+CAST(n_b AS DOUBLE) AS nd FROM u),
s AS (SELECT *, nad*nbd/12.0*((nd+1.0) - CAST(tie AS DOUBLE)/(nd*(nd-1.0))) AS sig2 FROM m)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, CAST(u2a AS VARCHAR) AS u2_a,
 CAST(CAST(2 AS DECIMAL(38,0))*CAST(n_a AS DECIMAL(38,0))*CAST(n_b AS DECIMAL(38,0)) - u2a AS VARCHAR) AS u2_b,
 CAST(tie AS VARCHAR) AS tie_sum,
 CAST(u2a AS DOUBLE)/2.0 AS u_a,
 CASE WHEN n_a > 0 AND n_b > 0 AND sig2 > 0.0 THEN floor((CAST(u2a AS DOUBLE)/2.0 - nad*nbd/2.0)/sqrt(sig2)*1e6+0.5)/1e6 END AS z
FROM s"""

  /** DuckDB replica of [[rocAuc]] (single-window spec): AUC of the
    * µ-value separating clicks from views. */
  val rocAucOracleSql: String =
    s"""WITH byv AS (SELECT $vMicros AS v,
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS c_a, count(*) AS c_t
 FROM events WHERE $armFilter GROUP BY 1),
cum AS (SELECT v, c_a, c_t,
 sum(c_t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw_t
 FROM byv),
agg AS (SELECT sum(c_a) AS n_pos, sum(c_t - c_a) AS n_neg,
 sum(CAST(c_a AS DECIMAL(38,0)) * CAST(2*cw_t - c_t + 1 AS DECIMAL(38,0))) AS r2p
 FROM cum),
u AS (SELECT *, r2p - CAST(n_pos AS DECIMAL(38,0))*CAST(n_pos + 1 AS DECIMAL(38,0)) AS u2 FROM agg)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
 CAST(u2 AS VARCHAR) AS u2_pos,
 CASE WHEN n_pos > 0 AND n_neg > 0 THEN floor(CAST(u2 AS DOUBLE)/(2.0*CAST(n_pos AS DOUBLE)*CAST(n_neg AS DOUBLE))*1e6+0.5)/1e6 END AS auc
FROM u"""

  /** DuckDB replica of [[ksTest]] (single-window spec). */
  val ksTestOracleSql: String =
    s"""WITH byv AS (SELECT $vMicros AS v,
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS c_a, count(*) AS c_t
 FROM events WHERE $armFilter GROUP BY 1),
cum AS (SELECT v,
 sum(c_a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw_a,
 sum(c_t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw_t
 FROM byv),
tot AS (SELECT sum(c_a) AS n_a, sum(c_t - c_a) AS n_b FROM byv),
dn AS (SELECT n_a, n_b, abs(cw_a*n_b - (cw_t - cw_a)*n_a) AS dn, v FROM cum, tot),
mx AS (SELECT n_a, n_b, max(dn) AS d_num FROM dn GROUP BY 1, 2),
arg AS (SELECT mx.n_a, mx.n_b, mx.d_num, min(dn.v) AS at_v
 FROM mx JOIN dn ON dn.dn = mx.d_num GROUP BY 1, 2, 3)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, CAST(d_num AS VARCHAR) AS d_num, at_v,
 CASE WHEN n_a > 0 AND n_b > 0 THEN floor(CAST(d_num AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE))*1e6+0.5)/1e6 END AS d_stat,
 CASE WHEN n_a > 0 AND n_b > 0 THEN floor(CAST(d_num AS DOUBLE)/(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE))*sqrt(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/(CAST(n_a AS DOUBLE)+CAST(n_b AS DOUBLE)))*1e6+0.5)/1e6 END AS ks_z
FROM arg"""

  /** DuckDB replica of [[cramersV]] over (event_type, user_id % 10). */
  val cramersVOracleSql: String =
    """WITH ct AS (SELECT event_type AS a, user_id % 10 AS b, count(*) AS o FROM events GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS r_a FROM ct GROUP BY 1),
cb AS (SELECT b, sum(o) AS c_b FROM ct GROUP BY 1),
cells AS (SELECT CAST(floor(CAST(o AS DOUBLE)*CAST(o AS DOUBLE)/(CAST(r_a AS DOUBLE)*CAST(c_b AS DOUBLE))*1e12+0.5) AS DECIMAL(38,0)) AS cq, o, ct.a, ct.b
 FROM ct JOIN ra ON ct.a = ra.a JOIN cb ON ct.b = cb.b),
agg AS (SELECT sum(o) AS n, count(DISTINCT a) AS r_card, count(DISTINCT b) AS c_card, sum(cq) AS cell_q FROM cells),
m AS (SELECT *, CAST(n AS DOUBLE) AS nd, CAST(r_card AS DOUBLE) AS rd, CAST(c_card AS DOUBLE) AS cd, CAST(cell_q AS DOUBLE)/1e12 - 1.0 AS phi2 FROM agg),
bc AS (SELECT *, greatest(phi2 - (rd-1.0)*(cd-1.0)/(nd-1.0), 0.0) AS phi2bc,
 rd - (rd-1.0)*(rd-1.0)/(nd-1.0) AS rbc, cd - (cd-1.0)*(cd-1.0)/(nd-1.0) AS cbc FROM m)
SELECT CAST(n AS BIGINT) AS n, r_card, c_card, CAST(cell_q AS VARCHAR) AS cell_q,
 CASE WHEN r_card > 1 AND c_card > 1 THEN floor(nd*phi2*1e6+0.5)/1e6 END AS chi2,
 CASE WHEN r_card > 1 AND c_card > 1 THEN floor(sqrt(greatest(phi2, 0.0)/CAST(least(r_card, c_card)-1 AS DOUBLE))*1e6+0.5)/1e6 END AS v,
 CASE WHEN r_card > 1 AND c_card > 1 AND n > 1 AND least(rbc, cbc)-1.0 > 0.0 THEN floor(sqrt(phi2bc/(least(rbc, cbc)-1.0))*1e6+0.5)/1e6 END AS v_bc,
 CASE WHEN r_card > 1 AND c_card > 1 THEN floor(sqrt(greatest(phi2, 0.0)/(greatest(phi2, 0.0)+1.0))*1e6+0.5)/1e6 END AS c_coef
FROM bc"""

  /** DuckDB replica of [[corrMatrix]] over (µ-value, hour-of-ts,
    * user_id % 100). */
  val corrMatrixOracleSql: String = {
    def cell(x: String, y: String): String =
      s"""SELECT '$x' AS col_a, '$y' AS col_b,
 CASE WHEN CAST(CAST(n AS DECIMAL(38,0))*ss_$x - s_$x*s_$x AS DOUBLE) > 0.0
  AND CAST(CAST(n AS DECIMAL(38,0))*ss_$y - s_$y*s_$y AS DOUBLE) > 0.0
 THEN floor(CAST(CAST(n AS DECIMAL(38,0))*sp_${x}_$y - s_$x*s_$y AS DOUBLE)
  / sqrt(CAST(CAST(n AS DECIMAL(38,0))*ss_$x - s_$x*s_$x AS DOUBLE)
   * CAST(CAST(n AS DECIMAL(38,0))*ss_$y - s_$y*s_$y AS DOUBLE)) * 1e6 + 0.5) / 1e6
 END AS corr FROM a"""
    s"""WITH src AS (SELECT $vMicros AS v, CAST(hour(ts) AS BIGINT) AS h, user_id % 100 AS u FROM events),
a AS (SELECT count(*) AS n,
 sum(CAST(v AS DECIMAL(38,0))) AS s_v, sum(CAST(h AS DECIMAL(38,0))) AS s_h, sum(CAST(u AS DECIMAL(38,0))) AS s_u,
 sum(CAST(v AS DECIMAL(38,0))*CAST(v AS DECIMAL(38,0))) AS ss_v,
 sum(CAST(h AS DECIMAL(38,0))*CAST(h AS DECIMAL(38,0))) AS ss_h,
 sum(CAST(u AS DECIMAL(38,0))*CAST(u AS DECIMAL(38,0))) AS ss_u,
 sum(CAST(v AS DECIMAL(38,0))*CAST(h AS DECIMAL(38,0))) AS sp_v_h,
 sum(CAST(v AS DECIMAL(38,0))*CAST(u AS DECIMAL(38,0))) AS sp_v_u,
 sum(CAST(h AS DECIMAL(38,0))*CAST(u AS DECIMAL(38,0))) AS sp_h_u
 FROM src)
${cell("v", "h")} UNION ALL ${cell("v", "u")} UNION ALL ${cell("h", "u")}"""
  }

  /** DuckDB replica of [[categoricalWoe]] over (user_id % 10,
    * event_type = 'click'). */
  val categoricalWoeOracleSql: String =
    """WITH per AS (SELECT user_id % 10 AS cat,
 sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_pos,
 sum(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS n_neg
 FROM events GROUP BY 1),
tot AS (SELECT sum(n_pos) AS goods, sum(n_neg) AS bads FROM per),
t AS (SELECT cat, n_pos, n_neg, goods, bads,
 (CAST(n_pos AS DOUBLE)*CAST(bads AS DOUBLE))/(CAST(goods AS DOUBLE)*CAST(n_neg AS DOUBLE)) AS lnarg,
 CAST(n_pos AS DOUBLE)/CAST(goods AS DOUBLE) - CAST(n_neg AS DOUBLE)/CAST(bads AS DOUBLE) AS pq,
 (n_pos > 0 AND n_neg > 0 AND goods > 0 AND bads > 0) AS ok
 FROM per, tot),
q AS (SELECT *, CASE WHEN ok
 THEN CAST(floor(pq*ln(lnarg)*1e12 + 0.5) AS DECIMAL(38,0)) END AS tq FROM t)
SELECT CAST(cat AS BIGINT) AS cat, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
 CASE WHEN ok THEN floor(ln(lnarg)*1e6+0.5)/1e6 END AS woe,
 CASE WHEN ok THEN CAST(tq AS VARCHAR) END AS iv_q,
 CASE WHEN ok THEN floor(CAST(tq AS DOUBLE)/1e12*1e6+0.5)/1e6 END AS iv
FROM q"""

  /** DuckDB replica of [[linearRegression]]: per event-type trend of
    * µ-value over the event's hour-of-epoch. */
  val linearRegressionOracleSql: String =
    s"""WITH rows_ AS (SELECT event_type AS k,
 epoch_us(ts) // 3600000000 AS x, $vMicros AS y FROM events),
agg AS (SELECT k, count(*) AS n,
 sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
 sum(CAST(x AS DECIMAL(38,0))*CAST(x AS DECIMAL(38,0))) AS sxx,
 sum(CAST(x AS DECIMAL(38,0))*CAST(y AS DECIMAL(38,0))) AS sxy
 FROM rows_ GROUP BY k),
m AS (SELECT *, CAST(n AS DOUBLE) AS nd,
 CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den,
 CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num FROM agg)
SELECT k, CAST(n AS BIGINT) AS n, CAST(sx AS VARCHAR) AS sx, CAST(sy AS VARCHAR) AS sy,
 CAST(sxx AS VARCHAR) AS sxx, CAST(sxy AS VARCHAR) AS sxy,
 CASE WHEN den > 0.0 THEN floor(num/den*1e6+0.5)/1e6 END AS slope,
 CASE WHEN den > 0.0 THEN floor((CAST(sy AS DOUBLE) - num/den*CAST(sx AS DOUBLE))/nd*1e6+0.5)/1e6 END AS intercept
FROM m"""

  /** DuckDB replica of [[anovaF]] over (µ-value, event_type). */
  val anovaFOracleSql: String =
    s"""WITH per AS (SELECT event_type AS g, count(*) AS ng,
 sum(CAST($vMicros AS DECIMAL(38,0))) AS s1g,
 sum(CAST($vMicros AS DECIMAL(38,0))*CAST($vMicros AS DECIMAL(38,0))) AS s2g
 FROM events GROUP BY 1),
agg AS (SELECT sum(ng) AS n, count(*) AS g_card, sum(s1g) AS s1, sum(s2g) AS s2,
 sum((CAST(s1g AS HUGEINT)*CAST(s1g AS HUGEINT)) // CAST(ng AS HUGEINT)) AS sq_q FROM per),
m AS (SELECT *, CAST(n AS DOUBLE) AS nd, CAST(g_card AS DOUBLE) AS gd,
 CAST(sq_q AS DOUBLE) AS sqt FROM agg),
s AS (SELECT *, sqt - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/nd AS ssb,
 CAST(s2 AS DOUBLE) - sqt AS ssw FROM m)
SELECT CAST(n AS BIGINT) AS n, g_card, CAST(s1 AS VARCHAR) AS s1,
 CAST(sq_q AS VARCHAR) AS sq_q,
 CASE WHEN g_card > 1 AND n > g_card AND ssw > 0.0 THEN floor((ssb/(gd-1.0))/(ssw/(nd-gd))*1e6+0.5)/1e6 END AS f_stat,
 g_card - 1 AS df_between, CAST(n AS BIGINT) - g_card AS df_within
FROM s"""

  /** DuckDB replica of [[equiDepthHistogram]] (single-window spec) over
    * the µ-value with 8 bins. */
  val equiDepthHistogramOracleSql: String =
    s"""WITH byv AS (SELECT $vMicros AS v, count(*) AS c_t FROM events GROUP BY 1),
cum AS (SELECT v, c_t,
 sum(c_t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw_t FROM byv),
tot AS (SELECT sum(c_t) AS n FROM byv),
binned AS (SELECT v, c_t, least(7, (cw_t - c_t) * 8 // n) AS bin FROM cum, tot)
SELECT CAST(bin AS BIGINT) AS bin, min(v) AS lo, max(v) AS hi, CAST(sum(c_t) AS BIGINT) AS cnt
FROM binned GROUP BY bin"""

  /** DuckDB replica of [[columnEntropy]] over event_type. */
  val columnEntropyOracleSql: String =
    """WITH counts AS (SELECT event_type AS v, count(*) AS o FROM events GROUP BY 1),
tot AS (SELECT sum(o) AS n FROM counts),
terms AS (SELECT n, CAST(floor(-1.0*CAST(o AS DOUBLE)/CAST(n AS DOUBLE)*(ln(CAST(o AS DOUBLE)/CAST(n AS DOUBLE))/ln(2.0))*1e12+0.5) AS DECIMAL(38,0)) AS t FROM counts, tot)
SELECT CAST(n AS BIGINT) AS n, count(*) AS card, CAST(sum(t) AS VARCHAR) AS h_q,
 floor(CAST(sum(t) AS DOUBLE)/1e12*1e6+0.5)/1e6 AS entropy_bits
FROM terms GROUP BY n"""

  /** DuckDB replica of [[rankCorr]] over (µ-value, duration ms proxy)
    * — midranks via the doubled-rank identity per axis, exact decimal
    * Pearson over the rank pairs. The spec keeps single global
    * windows; Spark's bucketed execution must reproduce them. */
  val rankCorrOracleSql: String =
    s"""WITH rows_ AS (SELECT $vMicros AS x, CAST(round(value*1000,0) AS BIGINT) % 1000 AS y FROM events WHERE $armFilter),
rx AS (SELECT x, 2*sum(count(*)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - count(*) + 1 AS r_x FROM rows_ GROUP BY x),
ry AS (SELECT y, 2*sum(count(*)) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - count(*) + 1 AS r_y FROM rows_ GROUP BY y),
ranked AS (SELECT r_x, r_y FROM rows_ JOIN rx USING (x) JOIN ry USING (y)),
agg AS (SELECT count(*) AS n,
 sum(CAST(r_x AS DECIMAL(38,0))) AS su, sum(CAST(r_y AS DECIMAL(38,0))) AS sv,
 sum(CAST(r_x AS DECIMAL(38,0))*CAST(r_x AS DECIMAL(38,0))) AS suu,
 sum(CAST(r_y AS DECIMAL(38,0))*CAST(r_y AS DECIMAL(38,0))) AS svv,
 sum(CAST(r_x AS DECIMAL(38,0))*CAST(r_y AS DECIMAL(38,0))) AS suv FROM ranked),
m AS (SELECT *, CAST(n AS DOUBLE) AS nd,
 CAST(n AS DOUBLE)*CAST(suv AS DOUBLE) - CAST(su AS DOUBLE)*CAST(sv AS DOUBLE) AS num,
 CAST(n AS DOUBLE)*CAST(suu AS DOUBLE) - CAST(su AS DOUBLE)*CAST(su AS DOUBLE) AS dx,
 CAST(n AS DOUBLE)*CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*CAST(sv AS DOUBLE) AS dy FROM agg)
SELECT CAST(n AS BIGINT) AS n, CAST(su AS VARCHAR) AS su, CAST(sv AS VARCHAR) AS sv,
 CAST(suu AS VARCHAR) AS suu, CAST(svv AS VARCHAR) AS svv, CAST(suv AS VARCHAR) AS suv,
 CASE WHEN dx > 0.0 AND dy > 0.0 THEN floor(num/(sqrt(dx)*sqrt(dy))*1e6+0.5)/1e6 END AS rho
FROM m"""

  /** DuckDB replica of [[meanZTest]] with pinned variances (1e14 each
    * — the µ²-unit scale of the value column). */
  val meanZTestOracleSql: String =
    s"""WITH p AS (SELECT
 sum(CASE WHEN $armIsA THEN 1 ELSE 0 END) AS n_a,
 sum(CASE WHEN $armIsA THEN 0 ELSE 1 END) AS n_b,
 sum(CASE WHEN $armIsA THEN CAST($vMicros AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS s1a,
 sum(CASE WHEN $armIsA THEN CAST(0 AS DECIMAL(38,0)) ELSE CAST($vMicros AS DECIMAL(38,0)) END) AS s1b
 FROM events WHERE $armFilter),
m AS (SELECT *, CAST(s1a AS DOUBLE)/CAST(n_a AS DOUBLE) AS mean_a,
 CAST(s1b AS DOUBLE)/CAST(n_b AS DOUBLE) AS mean_b,
 1e14/CAST(n_a AS DOUBLE) + 1e14/CAST(n_b AS DOUBLE) AS se FROM p)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
 CAST(s1a AS VARCHAR) AS s1_a, CAST(s1b AS VARCHAR) AS s1_b, mean_a, mean_b,
 CASE WHEN n_a > 0 AND n_b > 0 AND se > 0.0 THEN floor((mean_a-mean_b)/sqrt(se)*1e6+0.5)/1e6 END AS z
FROM m"""

  /** DuckDB replica of [[theilsU]] over (event_type, user_id % 10). */
  val theilsUOracleSql: String =
    """WITH ct AS (SELECT event_type AS a, user_id % 10 AS b, count(*) AS o FROM events GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS r_a FROM ct GROUP BY 1),
cb AS (SELECT b, sum(o) AS c_b FROM ct GROUP BY 1),
tot AS (SELECT sum(r_a) AS n FROM ra),
ha AS (SELECT n, sum(CAST(floor(-1.0*CAST(r_a AS DOUBLE)/CAST(n AS DOUBLE)*ln(CAST(r_a AS DOUBLE)/CAST(n AS DOUBLE))*1e12+0.5) AS DECIMAL(38,0))) AS h_a_q FROM ra, tot GROUP BY 1),
hc AS (SELECT n, sum(CAST(floor(-1.0*CAST(o AS DOUBLE)/CAST(n AS DOUBLE)*ln(CAST(o AS DOUBLE)/CAST(c_b AS DOUBLE))*1e12+0.5) AS DECIMAL(38,0))) AS h_cond_q
 FROM ct JOIN cb ON ct.b = cb.b, tot GROUP BY 1)
SELECT CAST(ha.n AS BIGINT) AS n, CAST(h_a_q AS VARCHAR) AS h_a_q, CAST(h_cond_q AS VARCHAR) AS h_cond_q,
 CASE WHEN h_a_q > 0 THEN floor((CAST(h_a_q AS DOUBLE) - CAST(h_cond_q AS DOUBLE))/CAST(h_a_q AS DOUBLE)*1e6+0.5)/1e6 END AS u
FROM ha JOIN hc ON ha.n = hc.n"""
}
