package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deterministic, exactly-replayable frequency/cardinality sketches —
  * the mergeable-summary layer a streaming analytics engine serves
  * counters from (the reference's Redis counter tier holds exactly
  * these aggregates; ClickHouse's uniqCombined / topK are the
  * warehouse versions).
  *
  * These complement the registry's existing sketch rungs
  * (q_heavy_hitters = Misra–Gries, q_sketch_distinct = Spark's HLL++):
  * those algorithms are merge-ORDER-dependent, so their oracle surface
  * is contract booleans. The two here are built from pure integer sums
  * and maxes — both COMMUTATIVE — so the sketch contents themselves
  * are partition-order-independent and the DuckDB oracle replays them
  * bit-for-bit, estimate included. That is also the 100 TB property:
  * a commutative sketch shards freely (per-executor partials merge by
  * `+`/`greatest` in any order) and unions across days/streams without
  * re-scanning data.
  *
  * Hashing is the md5-derived 60-bit portable hash
  * ([[TextFunctions.md5Long]]) both engines compute identically.
  */
object Sketches {

  /** Count-Min sketch point estimates vs exact counts. The sketch is
    * `d` rows × `w` counters; h_j(x) = md5Long(j:x) mod w; the point
    * estimate is min_j counter[j][h_j(x)] — an OVERESTIMATE by
    * construction (collisions only add), within εN with the standard
    * (w,d) guarantees. Output, one row per distinct key:
    * (key, exact_cnt, est_cnt) — est_cnt >= exact_cnt always, and both
    * engines agree exactly because counter sums and the min are
    * order-independent.
    *
    * Scale: the counter build is one hash aggregate over (j, bucket) —
    * d·w groups REGARDLESS of corpus size, with map-side combine; the
    * estimate probe joins the distinct-key table to the counters on
    * (j, bucket). The counter table broadcasts: unlike a corpus-derived
    * relation (the SCALE.md mis-broadcast class), its size is d·w BY
    * CONSTRUCTION — structurally bounded, the same justification as the
    * per-source cut table in Selection.sourceCalibrate. */
  def countMinEstimates(df: DataFrame, key: Column,
      w: Int = 64, d: Int = 4): DataFrame = {
    require(w >= 2 && d >= 1)
    val keyed = df.select(key.cast("string").as("k"))
    def bucketOf(j: Column, k: Column): Column =
      pmod(TextFunctions.md5Long(concat(j.cast("string"), lit(":"), k)),
        lit(w.toLong))
    val rows = keyed.select(col("k"),
      explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), bucketOf(col("j"), col("k")).as("bucket"))
    val counters = rows.groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
    val probes = exact.select(col("k"), col("exact_cnt"),
        explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("k"), col("exact_cnt"), col("j"),
        bucketOf(col("j"), col("k")).as("bucket"))
    probes.join(broadcast(counters), Seq("j", "bucket"))
      .groupBy(col("k"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("k").as("key"), col("exact_cnt"), col("est_cnt"))
  }

  /** DuckDB replica of [[countMinEstimates]] over `keySql` drawn from
    * `src`. */
  def countMinOracleSql(keySql: String, src: String,
      w: Int = 64, d: Int = 4): String = {
    def b(jSql: String) =
      s"CAST('0x'||substring(md5(CAST($jSql AS VARCHAR) || ':' || k),1,15) AS BIGINT) % $w"
    s"""WITH keyed AS (SELECT CAST($keySql AS VARCHAR) AS k FROM $src),
counters AS (SELECT j, ${b("j")} AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM keyed, LATERAL unnest(range(0, $d)) AS u(j) GROUP BY 1, 2),
exact AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt FROM keyed GROUP BY 1),
probes AS (SELECT k, exact_cnt, j, ${b("j")} AS bucket FROM exact, LATERAL unnest(range(0, $d)) AS u(j))
SELECT k AS key, exact_cnt, min(cnt) AS est_cnt FROM probes JOIN counters USING (j, bucket) GROUP BY 1, 2"""
  }

  /** Deterministic HyperLogLog over `key`: m registers, register j =
    * max over keys hashing to j of (trailing zeros of a second 32-bit
    * hash + 1, capped at 32; an all-zero hash registers 32). The
    * estimate is Flajolet's alpha·m²/Σ2^-M_j computed ENTIRELY in
    * BIGINT: Σ2^-M_j is held as the exact integer numerator
    * Σ 2^(32-M_j) over 2^32 (empty registers contribute 2^32), and
    * alpha_64 = 0.709 enters as the rational 709/1000, so the floor
    * estimate is one integer division — no transcendental, no float
    * summation order, bit-identical on both engines. (The standard
    * small/large-range corrections use ln(); they are deliberately
    * omitted to keep the integer-exact contract — this is the raw-HLL
    * estimator, and the output carries the register state + zeros so a
    * consumer can apply any correction.)
    *
    * Trailing zeros without log2: for x > 0, (x & -x) isolates the
    * lowest set bit and bit_count((x & -x) - 1) counts the zeros below
    * it — pure integer ops both engines share.
    *
    * Scale: registers are a m-group hash aggregate (map-side max) —
    * the sketch is m longs however large the input, merges by
    * `greatest` in any order, and the whole output is ONE row:
    * (m, zeros, numerator_q32, est_distinct, exact_distinct). */
  def hllDistinct(df: DataFrame, key: Column, m: Int = 64): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0, "m must be a power of two")
    val keyed = df.select(key.cast("string").as("k")).distinct()
    val h1 = TextFunctions.md5Long(col("k"))
    val h2 = pmod(TextFunctions.md5Long(concat(lit("r:"), col("k"))),
      lit(4294967296L))
    val rho = when(col("h2") === 0L, lit(32L))
      .otherwise(least(
        bit_count(col("h2").bitwiseAND(-col("h2")) - 1).cast("long") + 1L,
        lit(32L)))
    val regs = keyed
      .select(pmod(h1, lit(m.toLong)).as("bucket"), h2.as("h2"))
      .select(col("bucket"), rho.as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("reg"))
    // one-row reduce: zeros = empty registers (contribute 2^32 each to
    // the numerator); est = (709 * m^2 * 2^32) / (1000 * numerator)
    val summary = regs.agg(
      count(lit(1)).as("filled"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - reg AS INT))"))
        .as("num_filled"))
    val exact = df.select(key.cast("string").as("k"))
      .agg(countDistinct(col("k")).as("exact_distinct"))
    summary.crossJoin(exact)
      .select(
        lit(m.toLong).as("m"),
        (lit(m.toLong) - col("filled")).as("zeros"),
        (col("num_filled") +
          (lit(m.toLong) - col("filled")) * lit(4294967296L)).as("numerator_q32"),
        col("exact_distinct"))
      // integer DIV: the dividend (~1.25e16 at m=64) exceeds double's
      // 2^53 exact range, so float division would round — both engines
      // floor-divide BIGINTs instead
      .withColumn("est_distinct",
        expr(s"CAST((${709L * m.toLong * m.toLong} * 4294967296) DIV " +
          "(1000 * numerator_q32) AS BIGINT)"))
      .select(col("m"), col("zeros"), col("numerator_q32"),
        col("est_distinct"), col("exact_distinct"))
  }

  /** Audience set-algebra on the raw-HLL register tier (ClickHouse's
    * uniq-sketch union / `uniqTheta`-style intersect use case): one
    * register table per segment; the UNION sketch is the register-wise
    * max — EXACTLY the sketch the union's keys would have built, by
    * construction — and |A∩B| is estimated by inclusion–exclusion over
    * the three raw-HLL estimates. All register math is the
    * [[hllDistinct]] integer-exact path, so the oracle replays every
    * estimate bit-for-bit; the exact intersection rides along as the
    * accuracy contract.
    *
    * Scale: registers are a |segments|·m hash aggregate (map-side
    * max); the dense pair grid is |segments|²·m rows — category-
    * bounded, never corpus-proportional; the exact-intersect self-join
    * keys on the distinct (segment, key) table where each key appears
    * at most |segments| times.
    *
    * Output per unordered pair: (s_a, s_b, est_a, est_b, est_union,
    * est_intersect BIGINT clamped ≥ 0, exact_intersect BIGINT). */
  def hllSegmentOverlap(df: DataFrame, segment: Column, key: Column,
      m: Int = 64): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0, "m must be a power of two")
    val spark = df.sparkSession
    val base = df.select(segment.cast("string").as("s"),
      key.cast("string").as("k")).distinct()
    val h1 = TextFunctions.md5Long(col("k"))
    val h2v = pmod(TextFunctions.md5Long(concat(lit("r:"), col("k"))),
      lit(4294967296L))
    val rho = when(col("h2") === 0L, lit(32L))
      .otherwise(least(
        bit_count(col("h2").bitwiseAND(-col("h2")) - 1).cast("long") + 1L,
        lit(32L)))
    val regs = base
      .select(col("s"), pmod(h1, lit(m.toLong)).as("bucket"), h2v.as("h2"))
      .select(col("s"), col("bucket"), rho.as("rho"))
      .groupBy(col("s"), col("bucket")).agg(max(col("rho")).as("reg"))
    val segs = regs.select(col("s")).distinct()
    // dense grid: an empty register appears as reg = 0, contributing
    // 2^32 to the numerator — the zeros handling, made positional
    val grid = segs
      .crossJoin(spark.range(m).select(col("id").as("bucket")))
      .join(regs, Seq("s", "bucket"), "left")
      .select(col("s"), col("bucket"), coalesce(col("reg"), lit(0L)).as("reg"))
    val aSide = grid.select(col("s").as("s_a"), col("bucket"),
      col("reg").as("reg_a"))
    val bSide = grid.select(col("s").as("s_b"), col("bucket"),
      col("reg").as("reg_b"))
    val contrib = aSide.join(bSide, Seq("bucket"))
      .filter(col("s_a") < col("s_b"))
      .select(col("s_a"), col("s_b"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - reg_a AS INT))").as("c_a"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - reg_b AS INT))").as("c_b"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - greatest(reg_a, reg_b) AS INT))").as("c_u"))
    val nums = contrib.groupBy(col("s_a"), col("s_b"))
      .agg(sum(col("c_a")).as("num_a"), sum(col("c_b")).as("num_b"),
        sum(col("c_u")).as("num_u"))
    val cNum = 709L * m.toLong * m.toLong
    def est(numName: String): Column =
      expr(s"CAST(($cNum * 4294967296) DIV (1000 * $numName) AS BIGINT)")
    val ests = nums
      .withColumn("est_a", est("num_a"))
      .withColumn("est_b", est("num_b"))
      .withColumn("est_union", est("num_u"))
      .withColumn("est_intersect",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
    val exact = base.select(col("s").as("s_a"), col("k"))
      .join(base.select(col("s").as("s_b"), col("k")), "k")
      .filter(col("s_a") < col("s_b"))
      .groupBy(col("s_a"), col("s_b"))
      .agg(count(lit(1)).as("exact_intersect"))
    ests.join(exact, Seq("s_a", "s_b"), "left")
      .select(col("s_a"), col("s_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_intersect"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
  }

  /** DuckDB replica of [[hllSegmentOverlap]] over `(segSql, keySql)`
    * from `src`. */
  def hllOverlapOracleSql(segSql: String, keySql: String, src: String,
      m: Int = 64): String = {
    val cNum = 709L * m.toLong * m.toLong
    s"""WITH base AS (SELECT DISTINCT CAST($segSql AS VARCHAR) AS s, CAST($keySql AS VARCHAR) AS k FROM $src),
h AS (SELECT s, CAST('0x'||substring(md5(k),1,15) AS BIGINT) % $m AS bucket, CAST('0x'||substring(md5('r:'||k),1,15) AS BIGINT) % 4294967296 AS h2 FROM base),
r AS (SELECT s, bucket, max(CASE WHEN h2 = 0 THEN 32 ELSE least(bit_count((h2 & -h2) - 1) + 1, 32) END) AS reg FROM h GROUP BY 1, 2),
segs AS (SELECT DISTINCT s FROM r),
grid AS (SELECT segs.s, t.bucket, coalesce(r.reg, 0) AS reg FROM segs CROSS JOIN (SELECT unnest(range(0, $m)) AS bucket) t LEFT JOIN r ON r.s = segs.s AND r.bucket = t.bucket),
contrib AS (SELECT a.s AS s_a, b.s AS s_b,
 (CAST(1 AS BIGINT) << CAST(32 - a.reg AS BIGINT)) AS c_a,
 (CAST(1 AS BIGINT) << CAST(32 - b.reg AS BIGINT)) AS c_b,
 (CAST(1 AS BIGINT) << CAST(32 - greatest(a.reg, b.reg) AS BIGINT)) AS c_u
 FROM grid a JOIN grid b ON a.bucket = b.bucket AND a.s < b.s),
nums AS (SELECT s_a, s_b, sum(c_a) AS num_a, sum(c_b) AS num_b, sum(c_u) AS num_u FROM contrib GROUP BY 1, 2),
ests AS (SELECT s_a, s_b,
 CAST(($cNum * 4294967296) // (1000 * num_a) AS BIGINT) AS est_a,
 CAST(($cNum * 4294967296) // (1000 * num_b) AS BIGINT) AS est_b,
 CAST(($cNum * 4294967296) // (1000 * num_u) AS BIGINT) AS est_union FROM nums),
exact AS (SELECT a.s AS s_a, b.s AS s_b, count(*) AS exact_intersect
 FROM base a JOIN base b ON a.k = b.k AND a.s < b.s GROUP BY 1, 2)
SELECT ests.s_a, ests.s_b, est_a, est_b, est_union,
 greatest(est_a + est_b - est_union, 0) AS est_intersect,
 CAST(coalesce(exact_intersect, 0) AS BIGINT) AS exact_intersect
FROM ests LEFT JOIN exact ON ests.s_a = exact.s_a AND ests.s_b = exact.s_b"""
  }

  /** HDR-grid quantile sketch (the deterministic counterpart of
    * ClickHouse `quantileTDigest`/`quantileBFloat16`): counts over a
    * FIXED log₂ grid — values below 2^m are exact; above, the bucket
    * is (msb exponent, top m mantissa bits), giving relative error
    * ≤ 2^−m with at most (64 − m)·2^m + 2^m counters (m = 5 → ≤ 1.9k).
    * Unlike t-digest the grid never depends on the data or the merge
    * order, so parallel/incremental builds are bit-identical to a
    * one-shot build — counts are ADDITIVE, a SummingStore MV maintains
    * the sketch per micro-batch like any other rollup.
    *
    * The msb exponent derives from `length(bin(v))` — an exact integer
    * path both engines share; `floor(log2(v))` in doubles mis-rounds
    * near 2^k − 1 for k ≳ 52, so it is deliberately avoided. Contract:
    * v ≥ 0 (µ-unit metrics).
    *
    * Output: (idx BIGINT, cnt BIGINT) — the mergeable state. */
  def quantileSketch(df: DataFrame, v: Column, m: Int = 5): DataFrame = {
    require(m >= 1 && m <= 16, "m must be in [1, 16]")
    val base = 1L << m
    df.select(v.as("v"))
      .selectExpr(
        s"CASE WHEN v < ${base}L THEN v ELSE CAST(length(bin(v)) - 1 - $m AS BIGINT) * ${base}L + shiftright(v, CAST(length(bin(v)) - 1 - $m AS INT)) END AS idx")
      .groupBy(col("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a [[quantileSketch]] state table: for
    * each rational q = n/d, the LOWER BOUND of the grid bucket holding
    * the type-1 q-quantile (exact below 2^m; within 2^−m relative
    * error above). The cumulative runs over the ≤1.9k-row grid — a
    * single-partition window bounded by CONSTRUCTION, not by data.
    *
    * Output: (q_num, q_den INT, est BIGINT). */
  def sketchQuantiles(sketch: DataFrame, qs: Seq[(Int, Int)],
      m: Int = 5): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (n, d) => d > 0 && n >= 0 && n <= d },
      "quantiles must be rationals in [0,1]")
    val spark = sketch.sparkSession
    import spark.implicits._
    val base = 1L << m
    val cum = sketch.withColumn("cw", sum(col("cnt")).over(
      Window.orderBy(col("idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = sketch.agg(sum(col("cnt")).as("tw"))
    val qdf = qs.toDF("q_num", "q_den")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qdf))
      .filter(col("cw") * col("q_den") >= col("q_num") * col("tw"))
      .groupBy(col("q_num"), col("q_den"))
      .agg(min(expr(
        s"CASE WHEN idx < ${base}L THEN idx ELSE shiftleft(${base}L + idx % ${base}L, CAST(idx div ${base}L - 1 AS INT)) END"))
        .as("est"))
  }

  /** DuckDB replica of [[quantileSketch]] + [[sketchQuantiles]] over
    * `valueSql` from `src`. */
  def quantileSketchOracleSql(valueSql: String, src: String,
      qs: Seq[(Int, Int)], m: Int = 5): String = {
    val base = 1L << m
    val qrows = qs.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH vals AS (SELECT $valueSql AS v FROM $src),
sk AS (SELECT CASE WHEN v < $base THEN v ELSE CAST(length(bin(v)) - 1 - $m AS BIGINT) * $base + (v >> CAST(length(bin(v)) - 1 - $m AS BIGINT)) END AS idx, count(*) AS cnt FROM vals GROUP BY 1),
cum AS (SELECT idx, cnt, sum(cnt) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM sk),
tot AS (SELECT sum(cnt) AS tw FROM sk),
q(q_num, q_den) AS (VALUES $qrows)
SELECT q_num, q_den, min(CASE WHEN idx < $base THEN idx ELSE ($base + idx % $base) << CAST(idx // $base - 1 AS BIGINT) END) AS est
FROM cum, tot, q WHERE cw * q_den >= q_num * tw GROUP BY 1, 2"""
  }

  /** DuckDB replica of [[hllDistinct]]. */
  def hllOracleSql(keySql: String, src: String, m: Int = 64): String =
    s"""WITH keyed AS (SELECT DISTINCT CAST($keySql AS VARCHAR) AS k FROM $src),
hashed AS (SELECT CAST('0x'||substring(md5(k),1,15) AS BIGINT) % $m AS bucket, CAST('0x'||substring(md5('r:' || k),1,15) AS BIGINT) % 4294967296 AS h2 FROM keyed),
rhos AS (SELECT bucket, CASE WHEN h2 = 0 THEN 32 ELSE least(bit_count(CAST(h2 & -h2 AS BIGINT) - 1) + 1, 32) END AS rho FROM hashed),
regs AS (SELECT bucket, max(rho) AS reg FROM rhos GROUP BY 1),
summary AS (SELECT CAST(count(*) AS BIGINT) AS filled, CAST(sum(CAST(1 AS BIGINT) << CAST(32 - reg AS INTEGER)) AS BIGINT) AS num_filled FROM regs),
ex AS (SELECT CAST(count(DISTINCT CAST($keySql AS VARCHAR)) AS BIGINT) AS exact_distinct FROM $src)
SELECT CAST($m AS BIGINT) AS m, $m - filled AS zeros, num_filled + ($m - filled) * 4294967296 AS numerator_q32, CAST((${709L * m.toLong * m.toLong} * 4294967296) // (1000 * (num_filled + ($m - filled) * 4294967296)) AS BIGINT) AS est_distinct, exact_distinct FROM summary, ex"""

  /** KMV / bottom-k distinct sketch per group (see
    * [[graft.functions.KmvSketch]]): one bounded-state hash aggregate
    * over md5Long-hashed ids, exploded to (group, rank, h) with the
    * derived estimate. n̂ = kept when the sketch never filled (exact),
    * else ⌊(k−1)·2^60 / h_k⌋ — the division runs in DOUBLE on both
    * engines (identical IEEE operands → identical result), everything
    * upstream of it is exact integers.
    *
    * Scale: per-group state is ≤ k longs and map-side combinable; the
    * shuffle carries |groups|·k rows max. The k-set output (not just
    * the scalar) is what makes theta-style set algebra possible at
    * serve time — union two groups' sketches by re-aggregating. */
  def kmvDistinct(df: DataFrame, group: Column, id: Column,
      k: Int = 64): DataFrame =
    kmvDistinctFromSketches(kmvSketchTable(df, group, id, k), k)

  /** Per-group bottom-k sketch table (g, ks) — the shared first
    * aggregate of [[kmvDistinct]]/[[kmvSetOps]] and the PART shape of
    * the live sketch MV: the k smallest of a union is a function of
    * the k-sets alone, so per-batch k-sets stored as parts re-sketch
    * on read ([[kmvMergeSketches]]) to EXACTLY the one-shot sketch —
    * the theta serving story at 100 TB (estimates off the MV, never a
    * fact rescan). */
  def kmvSketchTable(df: DataFrame, group: Column, id: Column,
      k: Int): DataFrame = {
    graft.GraftExtensions.install(df.sparkSession)
    df.select(group.as("g"),
        graft.functions.TextFunctions.md5Long(
          concat(lit("kmv:"), id.cast("string"))).as("h"))
      .groupBy(col("g"))
      .agg(expr(s"kmv_sketch(h, $k)").as("ks"))
  }

  /** Merge per-part sketch tables back to one (g, ks) row per group:
    * explode the stored k-sets and re-run the bounded aggregate —
    * exact by the k-smallest-of-a-union law (KmvSketch's tested merge
    * property), and the only input is |parts|·|groups|·k longs. */
  def kmvMergeSketches(parts: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.install(parts.sparkSession)
    parts.select(col("g"), explode(col("ks")).as("h"))
      .groupBy(col("g"))
      .agg(expr(s"kmv_sketch(h, $k)").as("ks"))
  }

  /** Distinct-estimate readout from a (g, ks) sketch table — shared by
    * the one-shot [[kmvDistinct]] and the MV-served twin. */
  def kmvDistinctFromSketches(sk: DataFrame, k: Int): DataFrame =
    sk.select(col("g"), col("ks"),
        when(size(col("ks")) < k, size(col("ks")).cast("long"))
          .otherwise(floor(
            lit((k - 1).toDouble * 1152921504606846976.0) /
              element_at(col("ks"), k).cast("double")).cast("long"))
          .as("est"))
      .select(col("g"), col("est"),
        posexplode(col("ks")).as(Seq("rank", "h")))
      .select(col("g"), col("rank"), col("h"), col("est"))

  /** DuckDB replica of [[kmvDistinct]]: distinct hashes, bottom-k by
    * row_number, estimate from the k-th minimum. */
  def kmvOracleSql(groupSql: String, idSql: String, src: String,
      k: Int = 64): String =
    s"""WITH h AS (SELECT DISTINCT $groupSql AS g, CAST('0x'||substring(md5('kmv:' || CAST($idSql AS VARCHAR)),1,15) AS BIGINT) AS h FROM $src WHERE ($idSql) IS NOT NULL),
r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM h),
kept AS (SELECT g, h, rk FROM r WHERE rk <= $k),
est AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk FROM kept GROUP BY g)
SELECT kept.g, CAST(kept.rk - 1 AS INT) AS rank, kept.h,
       CASE WHEN est.n_kept < $k THEN est.n_kept
            ELSE CAST(floor(${(k - 1).toDouble * 1152921504606846976.0} / CAST(est.hk AS DOUBLE)) AS BIGINT) END AS est
FROM kept JOIN est ON kept.g = est.g"""

  /** 2^60 — the top of the portable hash domain; an unfilled sketch's
    * effective theta (it saw its whole stream). */
  private val ThetaFull = 1152921504606846976L

  /** Theta-sketch SET ALGEBRA over the [[kmvDistinct]] k-sets — the
    * ClickHouse `uniqTheta` + `uniqThetaIntersect/Union/Not` surface:
    * for every ordered pair of groups, estimated |A∪B|, |A∩B|, |A\B|,
    * |B\A| from the two bottom-k sketches ALONE (no second data scan).
    *
    * Construction (the standard theta form): merge the two k-sets,
    * θ = k-th smallest of the merge (or 2^60 when the merge never
    * filled — then everything is exact); the retained sample is the
    * k−1 hashes strictly below θ, each of which is decidable for
    * membership in A and B exactly (θ ≤ θ_A, θ_B, so h < θ is in
    * stream A iff h ∈ ksA). Estimates are ρ·2^60/θ with the same
    * double-division idiom as [[kmvDistinct]] (exact integer operands,
    * identical IEEE division on both engines). Because the sample is
    * partitioned by (∈A∩B, ∈A\B, ∈B\A), ρ_i + ρ_ab + ρ_ba = k−1
    * exactly — the three directional estimates are self-consistent
    * with the union estimate by construction.
    *
    * Scale: the data scan is the one bounded-state kmv aggregate
    * (≤ k longs per group, map-side combinable); everything after runs
    * on the |groups|-row sketch table — the pair join is
    * |groups|²/2 rows of 2k longs each, a broadcast-sized serve-time
    * computation for any realistic segment count (that is the POINT of
    * theta sketches at 100 TB: audience overlap without rescanning).
    *
    * Null ids are SKIPPED (kmv_sketch drops null hashes) — the oracle
    * mirrors this with an `IS NOT NULL` guard on the hash CTE. */
  def kmvSetOps(df: DataFrame, group: Column, id: Column,
      k: Int = 64): DataFrame =
    kmvSetOpsFromSketches(kmvSketchTable(df, group, id, k), k)

  /** Pairwise set-algebra readout from a (g, ks) sketch table —
    * shared by the one-shot [[kmvSetOps]] and the MV-served twin. */
  def kmvSetOpsFromSketches(sk: DataFrame, k: Int): DataFrame = {
    val pairs = sk.select(col("g").as("g_a"), col("ks").as("ks_a"))
      .join(sk.select(col("g").as("g_b"), col("ks").as("ks_b")),
        col("g_a") < col("g_b"))
      .withColumn("u", array_sort(array_union(col("ks_a"), col("ks_b"))))
      .withColumn("filled", size(col("u")) >= k)
      .withColumn("theta",
        when(col("filled"), element_at(col("u"), k)).otherwise(lit(ThetaFull)))
      .withColumn("sample",
        when(col("filled"), slice(col("u"), 1, k - 1)).otherwise(col("u")))
    def rho(pred: Column => Column): Column =
      size(filter(col("sample"), pred))
    val rhoI = rho(x => array_contains(col("ks_a"), x) &&
      array_contains(col("ks_b"), x))
    val rhoAB = rho(x => array_contains(col("ks_a"), x) &&
      !array_contains(col("ks_b"), x))
    val rhoBA = rho(x => !array_contains(col("ks_a"), x) &&
      array_contains(col("ks_b"), x))
    def est(r: Column): Column =
      when(!col("filled"), r.cast("long"))
        .otherwise(floor(r.cast("double") * lit(ThetaFull.toDouble) /
          col("theta").cast("double")).cast("long"))
    pairs.select(col("g_a"), col("g_b"), col("theta"),
      est(size(col("sample"))).as("union_est"),
      est(rhoI).as("inter_est"),
      est(rhoAB).as("a_not_b_est"),
      est(rhoBA).as("b_not_a_est"))
  }

  /** DuckDB replica of [[kmvSetOps]]: bottom-k per group relationally,
    * pair-merged ranks, membership via left joins back to the k-sets,
    * identical estimate arithmetic. */
  def kmvSetOpsOracleSql(groupSql: String, idSql: String, src: String,
      k: Int = 64): String =
    s"""WITH h AS (SELECT DISTINCT $groupSql AS g, CAST('0x'||substring(md5('kmv:' || CAST($idSql AS VARCHAR)),1,15) AS BIGINT) AS h FROM $src WHERE ($idSql) IS NOT NULL),
r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM h),
kept AS (SELECT g, h FROM r WHERE rk <= $k),
gs AS (SELECT DISTINCT g FROM kept),
pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
u AS (SELECT p.ga, p.gb, kk.h FROM pairs p JOIN kept kk ON kk.g = p.ga OR kk.g = p.gb GROUP BY 1, 2, 3),
ur AS (SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS urk, count(*) OVER (PARTITION BY ga, gb) AS usz FROM u),
mem AS (SELECT ur.ga, ur.gb, ur.h, ur.urk, ur.usz,
        (ur.usz >= $k) AS filled,
        (ka.h IS NOT NULL) AS am, (kb.h IS NOT NULL) AS bm
        FROM ur
        LEFT JOIN kept ka ON ka.g = ur.ga AND ka.h = ur.h
        LEFT JOIN kept kb ON kb.g = ur.gb AND kb.h = ur.h),
agg AS (SELECT ga, gb, max(usz) AS usz, bool_or(filled) AS filled,
        CASE WHEN max(usz) >= $k THEN max(CASE WHEN urk = $k THEN h END) ELSE $ThetaFull END AS theta,
        count(*) FILTER (WHERE urk <= CASE WHEN usz >= $k THEN ${k - 1} ELSE usz END) AS n_samp,
        count(*) FILTER (WHERE urk <= CASE WHEN usz >= $k THEN ${k - 1} ELSE usz END AND am AND bm) AS rho_i,
        count(*) FILTER (WHERE urk <= CASE WHEN usz >= $k THEN ${k - 1} ELSE usz END AND am AND NOT bm) AS rho_ab,
        count(*) FILTER (WHERE urk <= CASE WHEN usz >= $k THEN ${k - 1} ELSE usz END AND bm AND NOT am) AS rho_ba
        FROM mem GROUP BY 1, 2)
SELECT ga AS g_a, gb AS g_b, theta,
       CASE WHEN NOT filled THEN n_samp ELSE CAST(floor(CAST(n_samp AS DOUBLE) * ${ThetaFull.toDouble} / CAST(theta AS DOUBLE)) AS BIGINT) END AS union_est,
       CASE WHEN NOT filled THEN rho_i ELSE CAST(floor(CAST(rho_i AS DOUBLE) * ${ThetaFull.toDouble} / CAST(theta AS DOUBLE)) AS BIGINT) END AS inter_est,
       CASE WHEN NOT filled THEN rho_ab ELSE CAST(floor(CAST(rho_ab AS DOUBLE) * ${ThetaFull.toDouble} / CAST(theta AS DOUBLE)) AS BIGINT) END AS a_not_b_est,
       CASE WHEN NOT filled THEN rho_ba ELSE CAST(floor(CAST(rho_ba AS DOUBLE) * ${ThetaFull.toDouble} / CAST(theta AS DOUBLE)) AS BIGINT) END AS b_not_a_est
FROM agg"""
}
