package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series shaping operators — the ClickHouse surface the reference's
  * warehouse exposes for dashboard queries over the engagement events
  * table (see /root/reference/sql/clickhouse-init.sql for that table):
  * `ORDER BY ... WITH FILL STEP ... INTERPOLATE` (gap filling),
  * `sequenceMatch` / `sequenceCount` (event-pattern matching), exact
  * weighted quantiles (`quantileExactWeighted`), moving-frame window
  * aggregates (`groupArrayMovingSum`/`Avg`), and `sumMap`.
  *
  * Scale posture shared by every operator here:
  *  - the unit of shuffle is a per-(key, day) or per-(key, event) pair,
  *    never the raw event count where avoidable — daily grids are built
  *    from per-key min/max aggregates, so the exploded axis is bounded
  *    by keys × span-days, independent of event volume;
  *  - all windows are PARTITIONED by the series key; there is no global
  *    sort, no unbounded cross-key frame;
  *  - interpolation and quantile ranks are integer-exact (micro-unit
  *    BIGINTs, explicit floor-division via pmod, rational quantile
  *    ranks) so the DuckDB oracle matches hash-for-hash.
  */
object TimeSeries {

  /** Floor division n/den for den > 0 with possibly-negative n, in exact
    * integer arithmetic: (n - pmod(n, den)) is divisible by den, and the
    * double division below is exact for |n| < 2^52 (micro-unit values ×
    * span-days stay far below that; see gapFillDaily's docstring). */
  private def floorDiv(n: Column, den: Column): Column =
    ((n - pmod(n, den)) / den).cast("long")

  /** ClickHouse `WITH FILL STEP 1 DAY ... INTERPOLATE` analog.
    *
    * Input is raw events; `obs` below reduces them to per-(key, day)
    * micro-unit sums first (map-side combinable hash agg), so gap
    * filling never touches event volume. The dense axis is generated
    * per key from that key's own [min, max] day span (`sequence` +
    * `explode` — each key's grid rows are produced where the key's
    * span row lives, no driver round-trip, no global axis table), then
    * left-joined back to the observations on (key, day).
    *
    * Fill semantics, per key ordered by day:
    *  - `v_ffill`  — last observed value carried forward (the WITH FILL
    *    default for non-interpolated columns);
    *  - `v_interp` — LINEAR interpolation between the bracketing
    *    observed days, in exact integer micro-units:
    *    prev + floor((next - prev) * (d - prevDay) / (nextDay - prevDay))
    *    with floor division done via pmod so Spark and DuckDB agree on
    *    negative slopes. Exactness bound: |next - prev| ≤ 2^40 µ-units
    *    and spans ≤ 2^10 days keep the numerator below 2^52, where the
    *    divisible-by-construction double division is exact.
    *
    * Grid edges (before the first / after the last observation) fall
    * back to the nearest observed value in both columns. Every key has
    * ≥ 1 observation by construction (its span came from `obs`), so the
    * output carries no nulls.
    *
    * Output: (key k, day STRING, observed BOOLEAN, v_ffill BIGINT µ,
    * v_interp BIGINT µ). Rows = Σ_key span-days.
    */
  def gapFillDaily(events: DataFrame, key: Column, ts: Column,
                   valueMicros: Column): DataFrame =
    gapFillDailyFromObs(events
      .groupBy(key.as("k"), to_date(ts).as("d"))
      .agg(sum(valueMicros).as("v")))

  /** [[gapFillDaily]] starting from an already-aggregated per-(key,
    * day) observation table (k, d DATE, v BIGINT µ) — the entry point
    * for INCREMENTALLY-maintained daily sums (a SummingStore MV's
    * merge-on-read feeds this directly, so the dashboard fill never
    * rescans the event stream; see graft.streaming.Dashboard). */
  def gapFillDailyFromObs(obs: DataFrame): DataFrame = {
    val grid = obs.groupBy(col("k"))
      .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(col("k"),
        explode(sequence(col("dmin"), col("dmax"), expr("INTERVAL 1 DAY"))).as("d"))
    // obs is corpus-derived (keys × active-days): without the pin,
    // Catalyst's static estimate broadcasts it — unbounded at scale.
    val j = grid.join(Joins.corpusSide(obs), Seq("k", "d"), "left")

    val wb = Window.partitionBy(col("k")).orderBy(col("d"))
    val back = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd  = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prev  = last(col("v"), ignoreNulls = true).over(back)
    val prevD = last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(back)
    val nxt   = first(col("v"), ignoreNulls = true).over(fwd)
    val nxtD  = first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(fwd)

    val num = (nxt - prev) * datediff(col("d"), prevD)
    val den = datediff(nxtD, prevD)
    j.select(col("k"),
      date_format(col("d"), "yyyy-MM-dd").as("day"),
      col("v").isNotNull.as("observed"),
      prev.as("v_ffill"),
      when(col("v").isNotNull, col("v"))
        .when(prev.isNull, nxt)
        .when(nxt.isNull, prev)
        .otherwise(prev + floorDiv(num, den)).as("v_interp"))
  }

  /** DuckDB replica of [[gapFillDaily]] over `events` filtered to one
    * event_type, keyed by user_id, value = round(value·1e6) µ-units. */
  def gapFillDailyOracleSql(eventType: String): String =
    gapFillDailyOracleSqlKeyed("user_id", s"event_type='$eventType'")

  /** [[gapFillDailyOracleSql]] generalized over key column and filter —
    * shared by the composed dashboard oracle. */
  def gapFillDailyOracleSqlKeyed(keySql: String, whereSql: String): String = {
    def ignb(e: String) =
      s"last_value($e IGNORE NULLS) OVER (PARTITION BY k ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    def ignf(e: String) =
      s"first_value($e IGNORE NULLS) OVER (PARTITION BY k ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    val num = "(nxt-prev)*date_diff('day', prevd, d)"
    val den = "date_diff('day', prevd, nxtd)"
    s"""WITH obs AS (SELECT $keySql AS k, CAST(ts AS DATE) AS d, CAST(sum(CAST(round(value*1000000,0) AS BIGINT)) AS BIGINT) AS v FROM events WHERE $whereSql GROUP BY 1,2),
span AS (SELECT k, min(d) AS dmin, max(d) AS dmax FROM obs GROUP BY 1),
grid AS (SELECT k, CAST(unnest(generate_series(CAST(dmin AS TIMESTAMP), CAST(dmax AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM span),
j AS (SELECT g.k, g.d, o.v FROM grid g LEFT JOIN obs o ON g.k=o.k AND g.d=o.d),
w AS (SELECT k, d, v, ${ignb("v")} AS prev, ${ignb("CASE WHEN v IS NOT NULL THEN d END")} AS prevd, ${ignf("v")} AS nxt, ${ignf("CASE WHEN v IS NOT NULL THEN d END")} AS nxtd FROM j)
SELECT k, strftime(d,'%Y-%m-%d') AS day, v IS NOT NULL AS observed, prev AS v_ffill,
 CASE WHEN v IS NOT NULL THEN v WHEN prev IS NULL THEN nxt WHEN nxt IS NULL THEN prev
  ELSE prev + CAST((($num) - (((($num) % ($den)) + ($den)) % ($den))) / ($den) AS BIGINT) END AS v_interp
FROM w"""
  }

  /** [[gapFillDaily]] for a NUMERIC axis (ClickHouse `WITH FILL` also
    * fills numeric ORDER BY axes): per key, densify the integer axis
    * over the key's own [min, max] with unit step, forward-fill and
    * linearly interpolate in exact integer micro-units. Same shape —
    * per-key span aggregate → sequence/explode axis → sort-merge-pinned
    * left join → one per-key window pass.
    *
    * Output: (key k, x BIGINT, observed BOOLEAN, v_ffill BIGINT µ,
    * v_interp BIGINT µ). */
  def gapFillNumeric(df: DataFrame, key: Column, axis: Column,
                     valueMicros: Column): DataFrame = {
    val obs = df.groupBy(key.as("k"), axis.cast("long").as("x"))
      .agg(sum(valueMicros).as("v"))
    val grid = obs.groupBy(col("k"))
      .agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"))
      .select(col("k"), explode(sequence(col("xmin"), col("xmax"))).as("x"))
    val j = grid.join(Joins.corpusSide(obs), Seq("k", "x"), "left")

    val wb = Window.partitionBy(col("k")).orderBy(col("x"))
    val back = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd  = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prev  = last(col("v"), ignoreNulls = true).over(back)
    val prevX = last(when(col("v").isNotNull, col("x")), ignoreNulls = true).over(back)
    val nxt   = first(col("v"), ignoreNulls = true).over(fwd)
    val nxtX  = first(when(col("v").isNotNull, col("x")), ignoreNulls = true).over(fwd)
    val num = (nxt - prev) * (col("x") - prevX)
    val den = nxtX - prevX
    j.select(col("k"), col("x"),
      col("v").isNotNull.as("observed"),
      prev.as("v_ffill"),
      when(col("v").isNotNull, col("v"))
        .when(prev.isNull, nxt)
        .when(nxt.isNull, prev)
        .otherwise(prev + floorDiv(num, den)).as("v_interp"))
  }

  /** DuckDB replica of [[gapFillNumeric]] over events keyed by
    * event_type with axis floor(value) and µ-unit sums. */
  val gapFillNumericOracleSql: String = {
    def ignb(e: String) =
      s"last_value($e IGNORE NULLS) OVER (PARTITION BY k ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    def ignf(e: String) =
      s"first_value($e IGNORE NULLS) OVER (PARTITION BY k ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    val num = "(nxt-prev)*(x - prevx)"
    val den = "(nxtx - prevx)"
    s"""WITH obs AS (SELECT event_type AS k, CAST(floor(value) AS BIGINT) AS x, CAST(sum(CAST(round(value*1000000,0) AS BIGINT)) AS BIGINT) AS v FROM events GROUP BY 1,2),
span AS (SELECT k, min(x) AS xmin, max(x) AS xmax FROM obs GROUP BY 1),
grid AS (SELECT k, unnest(generate_series(xmin, xmax)) AS x FROM span),
j AS (SELECT g.k, g.x, o.v FROM grid g LEFT JOIN obs o ON g.k=o.k AND g.x=o.x),
w AS (SELECT k, x, v, ${ignb("v")} AS prev, ${ignb("CASE WHEN v IS NOT NULL THEN x END")} AS prevx, ${ignf("v")} AS nxt, ${ignf("CASE WHEN v IS NOT NULL THEN x END")} AS nxtx FROM j)
SELECT k, x, v IS NOT NULL AS observed, prev AS v_ffill,
 CASE WHEN v IS NOT NULL THEN v WHEN prev IS NULL THEN nxt WHEN nxt IS NULL THEN prev
  ELSE prev + CAST((($num) - (((($num) % ($den)) + ($den)) % ($den))) / ($den) AS BIGINT) END AS v_interp
FROM w"""
  }

  /** ClickHouse `ORDER BY x WITH FILL [STEP s] INTERPOLATE (c AS
    * c + Δ)` analog — the ONE-SIDED column rules the two-sided
    * [[gapFillNumeric]] deliberately doesn't have: ClickHouse's
    * INTERPOLATE computes each fill row's column from the PREVIOUS
    * row's value (a recurrence — no lookahead), and a fill row before
    * a series' first observation takes the column's type DEFAULT (0
    * for numbers). `interpolations` gives one output column per rule
    * as (name, Δ-per-step): Δ = 0 models `INTERPOLATE (c)` with the
    * expression omitted (ClickHouse then carries the previous value;
    * un-INTERPOLATEd columns instead take TYPE DEFAULTS in fill rows —
    * that is the rule's pre-first branch, not the Δ = 0 case); Δ ≠ 0
    * is the documented
    * `INTERPOLATE (v AS v + Δ)` linear rule. The g-step recurrence
    * collapses to the exact closed form prev + Δ·g (pure integers — no
    * per-row iteration, no float drift), where g = (x − prevX)/s.
    *
    * The axis is GLOBAL (ClickHouse fills the ORDER BY column's
    * [min, max] span when FROM/TO are omitted — the form implemented
    * here), dense with step `s`, and every series fills the whole
    * axis: keys starting late get the default-valued prefix ClickHouse
    * would produce. Contract: observed x values are step-ALIGNED to
    * the global min (fill rows interleave exactly; unaligned originals
    * belong to the raw-row-preserving form, not this grid form).
    *
    * Scale: obs is already per-(key, x) aggregated; the one-row global
    * span and the ≤axis-length sequence BROADCAST (the axis is a
    * dashboard-bounded dimension by contract — ClickHouse materializes
    * the same fill axis per query); obs joins the grid corpus-side
    * (never broadcast — keys × axis is corpus-sized). The per-key
    * window orders axis rows only, each group bounded by the axis
    * length.
    *
    * Output: (k, x, observed, <name> BIGINT µ per rule). */
  def withFillInterpolate(obs: DataFrame, step: Long,
      interpolations: Seq[(String, Long)]): DataFrame = {
    require(step > 0, "step must be positive")
    require(interpolations.nonEmpty &&
      interpolations.map(_._1).distinct.size == interpolations.size,
      "need distinct interpolation column names")
    val axis = obs.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(step))).as("x"))
    val keys = obs.select(col("k")).distinct()
    val grid = keys.crossJoin(broadcast(axis))
    val j = grid.join(Joins.corpusSide(obs), Seq("k", "x"), "left")
    val back = Window.partitionBy(col("k")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = last(col("v"), ignoreNulls = true).over(back)
    val prevX = last(when(col("v").isNotNull, col("x")), ignoreNulls = true)
      .over(back)
    val g = floorDiv(col("x") - prevX, lit(step))
    val rules = interpolations.map { case (name, add) =>
      when(col("v").isNotNull, col("v"))
        .when(prev.isNull, lit(0L)) // pre-first fill: the type default
        .otherwise(prev + lit(add) * g).as(name)
    }
    j.select(Seq(col("k"), col("x"), col("v").isNotNull.as("observed"))
      ++ rules: _*)
  }

  /** DuckDB replica of [[withFillInterpolate]] over per-(key, x)
    * µ-sums from `obsSql` (must yield k, x, v). */
  def withFillInterpolateOracleSql(obsSql: String, step: Long,
      interpolations: Seq[(String, Long)]): String = {
    def ignb(e: String) =
      s"last_value($e IGNORE NULLS) OVER (PARTITION BY k ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val rules = interpolations.map { case (name, add) =>
      s"CASE WHEN v IS NOT NULL THEN v WHEN prev IS NULL THEN 0 ELSE prev + ($add) * ((x - prevx) // $step) END AS $name"
    }.mkString(", ")
    s"""WITH obs AS ($obsSql),
span AS (SELECT min(x) AS lo, max(x) AS hi FROM obs),
axis AS (SELECT unnest(generate_series(lo, hi, $step)) AS x FROM span),
grid AS (SELECT k, x FROM (SELECT DISTINCT k FROM obs), axis),
j AS (SELECT g.k, g.x, o.v FROM grid g LEFT JOIN obs o ON g.k=o.k AND g.x=o.x),
w AS (SELECT k, x, v, ${ignb("v")} AS prev, ${ignb("CASE WHEN v IS NOT NULL THEN x END")} AS prevx FROM j)
SELECT k, x, v IS NOT NULL AS observed, $rules FROM w"""
  }

  /** ClickHouse `sequenceMatch('(?1).*(?2).*…')` analog: does the user's
    * event stream contain cond₁ … condₙ at strictly increasing
    * timestamps? Same chained-min-ts construction as
    * [[Funnel.windowFunnel]] but with no time-window bound: stage k is a
    * user-keyed hash agg over an ever-shrinking survivor set, so the
    * shuffled volume is bounded by |users matching cond₁|, not events.
    * Determinism: tₖ = min ts of condₖ events with ts > tₖ₋₁ — a pure
    * min-chain, no order-of-arrival sensitivity.
    *
    * Output: one row per user holding any condition event —
    * (u, matched BOOLEAN). */
  def sequenceMatchUsers(events: DataFrame, user: Column, ts: Column,
                         conds: Seq[Column]): DataFrame = {
    val (e, universe) = conditioned(events, user, ts.as("ts"), conds)
    var cur = e.filter(col("is_c1")).groupBy(col("u")).agg(min(col("ts")).as("t1"))
    for (k <- 2 to conds.size)
      // the survivor set is user-cardinality — corpus-derived, pinned
      cur = e.filter(col(s"is_c$k")).join(Joins.corpusSide(cur), "u")
        .filter(col("ts") > col(s"t${k - 1}"))
        .groupBy(col("u")).agg(min(col("ts")).as(s"t$k"))
    flagMatched(universe, cur.select(col("u")))
  }

  /** The sequenceMatch prologue: (u, ts, is_c1 … is_cn) rows, and the
    * universe of users holding any condition event. */
  private def conditioned(events: DataFrame, user: Column, ts: Column,
      conds: Seq[Column]): (DataFrame, DataFrame) = {
    require(conds.nonEmpty, "sequenceMatch needs at least one condition")
    val e = events.select(Seq(user.as("u"), ts) ++
      conds.zipWithIndex.map { case (p, i) => p.as(s"is_c${i + 1}") }: _*)
    (e, e.filter(conds.indices.map(i => col(s"is_c${i + 1}")).reduce(_ || _))
      .select(col("u")).distinct())
  }

  /** (u, matched) over the universe: true iff u is among `matched`'s
    * (distinct) users. The matched set is user-cardinality — pinned. */
  private def flagMatched(universe: DataFrame, matched: DataFrame): DataFrame =
    universe.join(Joins.corpusSide(matched.withColumn("matched", lit(true))),
      Seq("u"), "left")
      .select(col("u"), coalesce(col("matched"), lit(false)).as("matched"))

  /** One step of the viable-set DP: each of `rows`' (u, tu, …)
    * events gets `pm`, the latest `viable` time strictly before it
    * (null when none) — one [[Prefix]] running max per (user, time
    * bucket), so no per-user raw-event window survives a hot user.
    * RANGE … 1 PRECEDING keeps the strict tu < t bound through ties.
    * Only `viable` and `rows` are windowed; `rows`' extra columns ride
    * along. */
  private def stepMaxima(viable: DataFrame, rows: DataFrame,
      bucketUs: Long): DataFrame = {
    val all = viable.select(col("u"), col("tu"), lit(false).as("is_cur"))
      .unionByName(rows.withColumn("is_cur", lit(true)), allowMissingColumns = true)
    Prefix.running(all.withColumn("b", floorDiv(col("tu"), lit(bucketUs))),
        Seq("u"), "b", Seq(col("tu")), Seq("pm" -> when(!col("is_cur"), col("tu"))),
        Prefix.Max, Prefix.ExclusiveRange)
      .filter(col("is_cur"))
  }

  /** ClickHouse `sequenceMatch('(?1)(?t<gap)(?2)(?t<gap)(?3)…')`
    * analog — the ADJACENT-step time constraint, matched EXACTLY.
    *
    * A greedy min-chain (the [[sequenceMatchUsers]] shape) is
    * incomplete under gap constraints: the earliest prefix match can
    * strand a later step whose only witness needs a LATER prefix. The
    * complete form is a per-step viable-SET dynamic program: S₁ = all
    * cond₁ events; Sₖ = condₖ events t with some Sₖ₋₁ event in
    * (t − gap, t) — equivalently max{Sₖ₋₁ ts < t} > t − gap, a
    * running strict-max. A user matches iff Sₙ is non-empty. Each step
    * runs it per (user, time bucket) (see `stepMaxima`).
    *
    * Output: one row per user holding any condition event —
    * (u, matched BOOLEAN). */
  def sequenceMatchGapUsers(events: DataFrame, user: Column, ts: Column,
      conds: Seq[Column], gapUs: Long,
      bucketUs: Long = 3600000000L): DataFrame = {
    require(gapUs > 0 && bucketUs > 0, "gap and bucket must be positive")
    val (e, universe) = conditioned(events, user, unix_micros(ts).as("tu"), conds)
    var viable = e.filter(col("is_c1")).select(col("u"), col("tu"))
    for (k <- 2 to conds.size)
      viable = stepMaxima(viable,
        e.filter(col(s"is_c$k")).select(col("u"), col("tu")), bucketUs)
        .filter(col("pm").isNotNull && col("pm") > col("tu") - lit(gapUs))
        .select(col("u"), col("tu"))
    flagMatched(universe, viable.select(col("u")).distinct())
  }

  /** ClickHouse `windowFunnel(... 'strict_order')` / strict-order
    * `sequenceMatch` analog: a user matches iff some chain
    * t₁ < t₂ < … < tₙ of cond events exists with NO OTHER INPUT EVENT
    * strictly between consecutive chain steps — any interposed event
    * breaks the chain (the ClickHouse strict_order contract over the
    * rows the aggregate sees).
    *
    * Same viable-set DP as [[sequenceMatchGapUsers]] (greedy is
    * incomplete here too), with the break test reduced to a value
    * identity: for a condₖ event at t, let P = max viable Sₖ₋₁ time
    * < t and L = max ANY-event time < t (L ≥ P always). The step is
    * interposer-free iff P = L. L is per-event static, so it is one
    * [[Prefix]] running max over all events, computed once; each step
    * then windows only its viable set and its condₖ events for P
    * (see `stepMaxima`). Ties: events sharing
    * a timestamp are mutually unordered, so neither breaks the other
    * (time-granularity contract).
    *
    * Output: one row per user holding any condition event —
    * (u, matched BOOLEAN). */
  def sequenceMatchStrictOrderUsers(events: DataFrame, user: Column,
      ts: Column, conds: Seq[Column],
      bucketUs: Long = 3600000000L): DataFrame = {
    require(bucketUs > 0, "bucket must be positive")
    val (e, universe) = conditioned(events, user, unix_micros(ts).as("tu"), conds)
    val withLa = Prefix.running(e.withColumn("b", floorDiv(col("tu"), lit(bucketUs))),
      Seq("u"), "b", Seq(col("tu")), Seq("la" -> col("tu")), Prefix.Max, Prefix.ExclusiveRange)
    var viable = e.filter(col("is_c1")).select(col("u"), col("tu"))
    for (k <- 2 to conds.size)
      viable = stepMaxima(viable,
          withLa.filter(col(s"is_c$k")).select(col("u"), col("tu"), col("la")), bucketUs)
        .filter(col("pm").isNotNull && col("pm") === col("la"))
        .select(col("u"), col("tu"))
    flagMatched(universe, viable.select(col("u")).distinct())
  }

  /** DuckDB replica of a 3-condition [[sequenceMatchStrictOrderUsers]]
    * keyed by user_id with event_type equality conditions
    * (single-window spec). */
  def sequenceMatchStrictOrderOracleSql(c1: String, c2: String,
      c3: String): String =
    s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events WHERE event_type IN ('$c1','$c2','$c3')),
e AS (SELECT user_id AS u, epoch_us(ts) AS tu, event_type AS et,
 max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS la
 FROM events),
v1 AS (SELECT u, tu FROM e WHERE et = '$c1'),
w2 AS (SELECT u, tu, la, is_cur, max(CASE WHEN NOT is_cur THEN tu END) OVER (PARTITION BY u ORDER BY tu RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
 FROM (SELECT u, tu, NULL AS la, false AS is_cur FROM v1 UNION ALL SELECT u, tu, la, true AS is_cur FROM e WHERE et = '$c2')),
v2 AS (SELECT u, tu FROM w2 WHERE is_cur AND pm IS NOT NULL AND pm = la),
w3 AS (SELECT u, tu, la, is_cur, max(CASE WHEN NOT is_cur THEN tu END) OVER (PARTITION BY u ORDER BY tu RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
 FROM (SELECT u, tu, NULL AS la, false AS is_cur FROM v2 UNION ALL SELECT u, tu, la, true AS is_cur FROM e WHERE et = '$c3')),
v3 AS (SELECT DISTINCT u FROM w3 WHERE is_cur AND pm IS NOT NULL AND pm = la)
SELECT u.u, v3.u IS NOT NULL AS matched FROM u LEFT JOIN v3 ON u.u = v3.u"""

  /** DuckDB replica of a 3-condition [[sequenceMatchGapUsers]] keyed
    * by user_id with event_type equality conditions (single-window
    * spec: the viable-set DP with one RANGE window per step). */
  def sequenceMatchGapOracleSql(c1: String, c2: String, c3: String,
      gapUs: Long): String =
    s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events WHERE event_type IN ('$c1','$c2','$c3')),
e AS (SELECT user_id AS u, epoch_us(ts) AS tu, event_type AS et FROM events),
v1 AS (SELECT u, tu FROM e WHERE et = '$c1'),
w2 AS (SELECT u, tu, is_cur, max(CASE WHEN NOT is_cur THEN tu END) OVER (PARTITION BY u ORDER BY tu RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
 FROM (SELECT u, tu, false AS is_cur FROM v1 UNION ALL SELECT u, tu, true AS is_cur FROM e WHERE et = '$c2')),
v2 AS (SELECT u, tu FROM w2 WHERE is_cur AND pm IS NOT NULL AND pm > tu - $gapUs),
w3 AS (SELECT u, tu, is_cur, max(CASE WHEN NOT is_cur THEN tu END) OVER (PARTITION BY u ORDER BY tu RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
 FROM (SELECT u, tu, false AS is_cur FROM v2 UNION ALL SELECT u, tu, true AS is_cur FROM e WHERE et = '$c3')),
v3 AS (SELECT DISTINCT u FROM w3 WHERE is_cur AND pm IS NOT NULL AND pm > tu - $gapUs)
SELECT u.u, v3.u IS NOT NULL AS matched FROM u LEFT JOIN v3 ON u.u = v3.u"""

  /** DuckDB replica of a 3-condition [[sequenceMatchUsers]] keyed by
    * user_id with per-condition event_type equality. */
  def sequenceMatchOracleSql(c1: String, c2: String, c3: String): String =
    s"""WITH u AS (SELECT DISTINCT user_id AS u FROM events WHERE event_type IN ('$c1','$c2','$c3')),
s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events WHERE event_type='$c1' GROUP BY 1),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.u WHERE e.event_type='$c2' AND e.ts > t1 GROUP BY 1),
s3 AS (SELECT e.user_id AS u, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.u WHERE e.event_type='$c3' AND e.ts > t2 GROUP BY 1)
SELECT u.u, s3.u IS NOT NULL AS matched FROM u LEFT JOIN s3 ON u.u = s3.u"""

  /** ClickHouse `sequenceNextNode('forward', 'first_match')` analog:
    * for each user whose stream contains cond₁ … condₙ at strictly
    * increasing timestamps (the [[sequenceMatchUsers]] min-chain —
    * same deterministic earliest-match), the step value of the FIRST
    * event strictly after the chain completes — "what do users do
    * next after finishing the funnel". The next event is the struct
    * min of (ts, tiebreak, step) over the user's events after tₙ, so
    * the whole operator is chained user-keyed hash aggs on shrinking
    * survivor sets — no window over raw events, no per-user buffering.
    *
    * Output: one row per chain-matching user — (u, next_step; null
    * when the chain's last event is the user's final event). */
  def sequenceNextNode(events: DataFrame, user: Column, ts: Column,
                       tiebreak: Column, step: Column,
                       conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty, "sequenceNextNode needs at least one condition")
    val e = events.select(Seq(user.as("u"), ts.as("ts"), tiebreak.as("tb"),
      step.as("step")) ++
      conds.zipWithIndex.map { case (p, i) => p.as(s"is_c${i + 1}") }: _*)
    var cur = e.filter(col("is_c1")).groupBy(col("u")).agg(min(col("ts")).as("t1"))
    for (k <- 2 to conds.size)
      cur = e.filter(col(s"is_c$k")).join(Joins.corpusSide(cur), "u")
        .filter(col("ts") > col(s"t${k - 1}"))
        .groupBy(col("u")).agg(min(col("ts")).as(s"t$k"))
    val matched = cur.select(col("u"), col(s"t${conds.size}").as("tn"))
    e.join(Joins.corpusSide(matched), Seq("u"), "inner")
      .groupBy(col("u"))
      .agg(min(when(col("ts") > col("tn"),
        struct(col("ts"), col("tb"), col("step")))).as("nxt"))
      .select(col("u"), col("nxt").getField("step").as("next_step"))
  }

  /** DuckDB replica of a 2-condition [[sequenceNextNode]] keyed by
    * user_id with event_type equality conditions, step = event_type,
    * tiebreak = event_id. */
  def sequenceNextNodeOracleSql(c1: String, c2: String): String =
    s"""WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events WHERE event_type='$c1' GROUP BY 1),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.u WHERE e.event_type='$c2' AND e.ts > t1 GROUP BY 1),
nx AS (SELECT u, event_type AS next_step FROM (SELECT e.user_id AS u, e.event_type, row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn FROM events e JOIN s2 ON e.user_id = s2.u WHERE e.ts > s2.t2) WHERE rn = 1)
SELECT s2.u, nx.next_step FROM s2 LEFT JOIN nx ON s2.u = nx.u"""

  /** MAXIMUM-MATCHING sequence count: the number of NON-OVERLAPPING
    * condA→condB matches per user where each event is consumed at most
    * once (greedy left-to-right pairing) — computed relationally via
    * the prefix-deficit identity instead of a per-user array scan.
    *
    * SEMANTICS NOTE — this deliberately DIVERGES from ClickHouse
    * `sequenceCount('(?1).*(?2)')`: ClickHouse restarts its scan after
    * each completed match, so on the stream A,A,B,B it finds ONE chain
    * (A₁…B₁, then the remaining B has no later A), while the maximum
    * matching pairs A₁→B₁ and A₂→B₂ for TWO. Use
    * [[sequenceCountRestart]] for exact ClickHouse parity; this
    * operator answers the capacity question ("how many disjoint A→B
    * journeys could these events support?").
    *
    * The prefix-deficit identity:
    *
    *   matches(u) = #B(u) − max(0, max over prefixes of (#B − #A))
    *
    * where prefixes run in (ts, tiebreak) order. Proof sketch: a B is
    * unmatched iff every preceding A is already consumed, i.e. the
    * running (#B − #A) deficit reaches a new maximum at that B; the
    * greedy scan leaves exactly max(0, max-prefix-deficit) Bs unmatched.
    *
    * HOT-KEY posture: a naive per-user running window buffers each
    * user's whole event list in the WindowExec group array (the
    * fourteenth SCALE.md finding: the GROUP is the spill unit), so one
    * pathological user would spill regardless of partition sizing. The
    * deficit max is associative over concatenated segments —
    * max-prefix(s₁ ⧺ s₂) = max(maxPrefix(s₁), sum(s₁) + maxPrefix(s₂))
    * — so phase 1 runs the running window per (user, `bucket`) and
    * reduces each bucket to (net, in-bucket max, #B); phase 2 windows
    * over the per-(user, bucket) AGGREGATE rows (|active buckets| per
    * user — the tractable group) to add each bucket's carry-in, then
    * one hash agg takes the per-user global max. The raw A/B subset
    * shuffles exactly once.
    *
    * Equal-timestamp A/B pairs are ordered by the `tiebreak` column
    * (pass a unique id); the contract is the (ts, tiebreak) total order.
    *
    * @param bucket monotone time bucketing (default: calendar day);
    *   size it so one user's events per bucket stay in the thousands.
    * Output: (u, matches BIGINT), one row per user with ≥ 1 A or B. */
  def sequenceCountPairs(events: DataFrame, user: Column, ts: Column,
                         tiebreak: Column, condA: Column, condB: Column,
                         bucket: Column => Column = to_date(_)): DataFrame = {
    val e = events.filter(condA || condB)
      .select(user.as("u"), ts.as("ts"), tiebreak.as("tb"),
        when(condB, lit(1L)).otherwise(lit(-1L)).as("step"))
    val inBucket = Window.partitionBy(col("u"), bucket(col("ts")))
      .orderBy(col("ts"), col("tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = e
      .select(col("u"), bucket(col("ts")).as("b"), col("step"),
        sum(col("step")).over(inBucket).as("run"))
      .groupBy(col("u"), col("b"))
      .agg(sum(col("step")).as("net"), max(col("run")).as("bmax"),
        sum(when(col("step") === 1L, 1L).otherwise(0L)).as("nb"))
    val carry = Window.partitionBy(col("u")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .select(col("u"), col("nb"),
        (coalesce(sum(col("net")).over(carry), lit(0L)) + col("bmax")).as("gmax"))
      .groupBy(col("u"))
      .agg((sum(col("nb")) - greatest(lit(0L), max(col("gmax")))).as("matches"))
  }

  /** DuckDB replica of [[sequenceCountPairs]] with event_type equality
    * conditions, tiebreak = event_id. */
  def sequenceCountOracleSql(a: String, b: String): String =
    s"""WITH e AS (SELECT user_id AS u, ts, event_id, CASE WHEN event_type='$b' THEN 1 ELSE -1 END AS step FROM events WHERE event_type IN ('$a','$b')),
r AS (SELECT u, step, sum(step) OVER (PARTITION BY u ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM e)
SELECT u, CAST(sum(CASE WHEN step=1 THEN 1 ELSE 0 END) - greatest(0, max(run)) AS BIGINT) AS matches FROM r GROUP BY 1"""

  /** ClickHouse `sequenceCount('(?1).*(?2)')` with EXACT parity —
    * restart-after-match semantics: scan the user's condA/condB events
    * in (ts, tiebreak) order; a chain completes at the first condB
    * after a condA, and the scan restarts AFTER that condB (so A,A,B,B
    * counts 1, where [[sequenceCountPairs]]'s maximum matching counts
    * 2).
    *
    * Relational form — the restart scan reduces to counting ADJACENT
    * A→B transitions in the filtered stream: each completed chain ends
    * at the first B after its starting A, whose immediate predecessor
    * is necessarily an A (any earlier B would have completed the chain
    * sooner), and each A→B adjacency is consumed by exactly one chain.
    * So matches(u) = #{i : eᵢ is B ∧ eᵢ₋₁ is A} — a single lag, no
    * state machine.
    *
    * HOT-KEY posture: the adjacency count is segment-associative with
    * one row of boundary context (is the previous segment's LAST event
    * an A while this segment's FIRST is a B?), so phase 1 lags per
    * (user, `bucket`) and phase 2 windows over the per-bucket
    * aggregate rows — the same two-phase discipline as [[deltaSum]].
    *
    * Output: (u, matches BIGINT), one row per user with ≥ 1 A or B. */
  def sequenceCountRestart(events: DataFrame, user: Column, ts: Column,
                           tiebreak: Column, condA: Column, condB: Column,
                           bucket: Column => Column = to_date(_)): DataFrame = {
    val wIn = Window.partitionBy(col("u"), col("b")).orderBy(col("tu"), col("tb"))
    val perBucket = events.filter(condA || condB)
      .select(user.as("u"), bucket(ts).as("b"), unix_micros(ts).as("tu"),
        tiebreak.as("tb"), condB.as("isb"))
      .withColumn("hit",
        when(col("isb") && !coalesce(lag(col("isb"), 1).over(wIn), lit(true)),
          lit(1L)).otherwise(lit(0L)))
      .groupBy(col("u"), col("b"))
      .agg(sum(col("hit")).as("hits_in"),
        min(struct(col("tu"), col("tb"), col("isb"))).getField("isb").as("first_isb"),
        max(struct(col("tu"), col("tb"), col("isb"))).getField("isb").as("last_isb"))
    val wB = Window.partitionBy(col("u")).orderBy(col("b"))
    perBucket
      .withColumn("boundary",
        when(col("first_isb") &&
          !coalesce(lag(col("last_isb"), 1).over(wB), lit(true)), lit(1L))
          .otherwise(lit(0L)))
      .groupBy(col("u"))
      .agg(sum(col("hits_in") + col("boundary")).as("matches"))
  }

  /** DuckDB replica of [[sequenceCountRestart]] with event_type
    * equality conditions, tiebreak = event_id (single-window adjacency
    * form — it IS the spec the two-phase plan must reproduce). */
  def sequenceCountRestartOracleSql(a: String, b: String): String =
    s"""WITH e AS (SELECT user_id AS u, ts, event_id, event_type='$b' AS isb FROM events WHERE event_type IN ('$a','$b')),
r AS (SELECT u, isb, lag(isb, 1) OVER (PARTITION BY u ORDER BY ts, event_id) AS pisb FROM e)
SELECT u, CAST(sum(CASE WHEN isb AND pisb = FALSE THEN 1 ELSE 0 END) AS BIGINT) AS matches FROM r GROUP BY 1"""

  /** ClickHouse `quantileExactWeighted` analog, integer-exact: for each
    * rational quantile q = num/den (den > 0), the smallest value v whose
    * cumulative weight reaches ceil(q · W) where W = Σ weights — i.e.
    * the weighted type-1 (lower) quantile. Ranks are computed with pure
    * integer arithmetic, ceil(n·W/d) = (n·W + d − 1) div d, so there is
    * no floating-point rank to diverge on.
    *
    * Plan shape — TWO-PHASE on the value axis, never a global window
    * (a continuous value column makes |distinct values| ≈ |events|, so
    * a `Window.orderBy(v)` with no partitionBy would be a one-task sort
    * of the corpus — the shape SCALE.md's fourteenth/fifteenth findings
    * eliminated everywhere else):
    *  1. one hash agg per distinct value (map-side combinable);
    *  2. the cumulative weight is a [[Prefix.running]] sum over value
    *     buckets `floorDiv(v, bucketWidth)`: bucket-partitioned windows
    *     plus a |non-empty buckets|-row carry joined back.
    * Then the q-literal table broadcasts and a min-per-q agg finishes.
    * The only single-partition window runs on the bucket-cardinality
    * table.
    *
    * @param bucketWidth width of a value bucket — the GROUP-memory dial
    *   (WindowExec buffers each bucket's distinct values; size it so
    *   distinct values per bucket stay in the thousands).
    * Output: (q_num INT, q_den INT, value BIGINT). */
  def weightedQuantiles(df: DataFrame, value: Column, weight: Column,
                        qs: Seq[(Int, Int)],
                        bucketWidth: Long = 1L << 20): DataFrame =
    weightedQuantilesFromWeights(
      df.groupBy(value.as("v")).agg(sum(weight).as("w")), qs, bucketWidth)

  /** [[weightedQuantiles]] starting from an already-aggregated
    * per-value weight table (v BIGINT, w BIGINT) — the incremental
    * entry point: per-value weights are ADDITIVE, so a SummingStore MV
    * maintains them per micro-batch and the quantile read runs over
    * the merged distinct-value table, never the event stream. */
  def weightedQuantilesFromWeights(byV: DataFrame, qs: Seq[(Int, Int)],
                                   bucketWidth: Long = 1L << 20): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (n, d) => d > 0 && n >= 0 && n <= d },
      "quantiles must be rationals in [0,1]")
    val spark = byV.sparkSession
    import spark.implicits._
    val qdf = qs.toDF("q_num", "q_den")
    cumulativeWeights(byV, Nil, bucketWidth).crossJoin(broadcast(qdf))
      .filter(col("cw") * col("q_den") >= col("q_num") * col("tw"))
      .groupBy(col("q_num"), col("q_den"))
      .agg(min(col("v")).as("value"))
  }

  /** (keys…, v, cw, tw) over a (keys…, v, w) distinct-value table:
    * the cumulative weight `cw` inclusive of v, per key — a [[Prefix]]
    * running sum over value buckets `floorDiv(v, bucketWidth)` — and
    * the key's total weight `tw`, read from the |buckets|-row carry
    * table, never another pass over the distinct values. */
  private def cumulativeWeights(byV: DataFrame, keys: Seq[String],
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    Prefix.running(byV.withColumn("b", floorDiv(col("v"), lit(bucketWidth))),
        keys, "b", Seq(col("v")), Seq("cw" -> col("w")), Prefix.Sum, Prefix.InclusiveRows)
      .select((keys :+ "v" :+ "cw").map(col) :+ col("cw_total").as("tw"): _*)
  }

  /** DuckDB replica of [[weightedQuantiles]] over events with
    * v = round(value·1e6) µ-units and weight = 1 + user_id % 9. */
  def weightedQuantilesOracleSql(qs: Seq[(Int, Int)]): String = {
    val qrows = qs.map { case (n, d) => s"($n, $d)" }.mkString(", ")
    s"""WITH byv AS (SELECT CAST(round(value*1000000,0) AS BIGINT) AS v, sum(1 + user_id % 9) AS w FROM events GROUP BY 1),
cum AS (SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM byv),
tot AS (SELECT sum(w) AS tw FROM byv),
q(q_num, q_den) AS (VALUES $qrows)
SELECT q_num, q_den, min(v) AS value FROM cum, tot, q WHERE cw * q_den >= q_num * tw GROUP BY 1, 2"""
  }

  /** ClickHouse `quantileExactInclusive` / `quantileExactExclusive`
    * analog: INTERPOLATED exact quantiles (type 7 / type 6 — the
    * Excel-family conventions ClickHouse documents), next to
    * [[weightedQuantiles]]' type-1 lower-value form. The target rank
    * is the exact rational h = (n−1)·p (inclusive) or (n+1)·p − 1
    * clamped to [0, n−1] (exclusive, 0-based), split into integer
    * floor and remainder with NO float division (pmod + exact
    * subtraction); the answer interpolates the order statistics at
    * ranks ⌊h⌋ and ⌊h⌋+1: v_lo + (rem/den)·(v_hi − v_lo), the only
    * doubles in the pipeline, mirrored operation-for-operation in the
    * oracle.
    *
    * Plan: the same bucketed two-phase cumulative as
    * [[weightedQuantilesFromWeights]] (per-value-bucket windows + a
    * ≤|buckets| carry — never a global one-task window), then the
    * rank probes run as ONE conditional-min hash aggregate over the
    * (cum × quantiles × offset∈{0,1}) filter — no per-quantile
    * rescan. */
  def interpolatedQuantiles(df: DataFrame, value: Column,
      qs: Seq[(Int, Int)], exclusive: Boolean = false,
      bucketWidth: Long = 1L << 20): DataFrame =
    interpolatedQuantilesFromWeights(
      df.select(value.as("v")).groupBy(col("v")).agg(count(lit(1)).as("w")),
      qs, exclusive, bucketWidth)

  /** WEIGHTED interpolated quantiles
    * (`quantileExactWeightedInterpolated` analog), defined cleanly as
    * type-7/6 over the UNIT-EXPANDED multiset (each value repeated
    * `weight` times): rank h = (W−1)·p exactly, interpolate the
    * expanded order statistics at ⌊h⌋/⌊h⌋+1 — identical machinery to
    * [[interpolatedQuantiles]] with per-value weight sums in place of
    * counts (and reduces to it at weight 1). Integer weights > 0. */
  def interpolatedQuantilesWeighted(df: DataFrame, value: Column,
      weight: Column, qs: Seq[(Int, Int)], exclusive: Boolean = false,
      bucketWidth: Long = 1L << 20): DataFrame =
    interpolatedQuantilesFromWeights(
      df.select(value.as("v"), weight.as("w0"))
        .groupBy(col("v")).agg(sum(col("w0")).as("w")),
      qs, exclusive, bucketWidth)

  /** Core of the interpolated family over a (v, w) per-distinct-value
    * weight table — also the MV-served entry (the same additive (v, w)
    * SummingStore parts as q_weighted_quantile_inc serve this read). */
  def interpolatedQuantilesFromWeights(byV: DataFrame,
      qs: Seq[(Int, Int)], exclusive: Boolean = false,
      bucketWidth: Long = 1L << 20): DataFrame =
    interpolated(byV, Nil, qs, exclusive, bucketWidth)

  /** The interpolated family per key over a (keys…, v, w) weight
    * table: output (keys…, q_num, q_den, value). */
  private def interpolated(byV: DataFrame, keys: Seq[String],
      qs: Seq[(Int, Int)], exclusive: Boolean, bucketWidth: Long): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (n, d) => d > 0 && n >= 0 && n <= d },
      "quantiles must be rationals in [0,1]")
    val spark = byV.sparkSession
    import spark.implicits._
    val qdf = qs.flatMap { case (n, d) => Seq((n, d, 0), (n, d, 1)) }
      .toDF("q_num", "q_den", "o")
    val n = col("tw")
    val hraw =
      if (exclusive) (n + lit(1L)) * col("q_num") - col("q_den")
      else (n - lit(1L)) * col("q_num")
    val hn = greatest(lit(0L), least(hraw, (n - lit(1L)) * col("q_den")))
    val group = keys.map(col) ++ Seq(col("q_num"), col("q_den"))
    cumulativeWeights(byV, keys, bucketWidth).crossJoin(broadcast(qdf))
      .withColumn("hn", hn)
      .withColumn("hf", floorDiv(col("hn"), col("q_den")))
      .withColumn("rem", pmod(col("hn"), col("q_den")))
      .filter(col("cw") >= col("hf") + lit(1L) + col("o"))
      .groupBy(group: _*)
      .agg(min(when(col("o") === 0, col("v"))).as("v_lo"),
        min(when(col("o") === 1, col("v"))).as("v_hi"),
        max(col("rem")).as("rem"))
      .select(group :+
        (floor((col("v_lo").cast("double") +
          col("rem").cast("double") / col("q_den").cast("double") *
            (coalesce(col("v_hi"), col("v_lo")).cast("double") -
              col("v_lo").cast("double"))) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("value"): _*)
  }

  /** GROUPED [[interpolatedQuantiles]] — `quantileExactInclusive(v)
    * ... GROUP BY key`, the per-segment dashboard form. Same exact
    * rational ranks and interpolation, with the cumulative a keyed
    * [[Prefix.running]] sum, so a hot key's windows stay at bucket
    * granularity. The per-key totals ride on the carry join and the
    * quantile spec broadcasts (|qs|·2 rows). */
  def interpolatedQuantilesBy(df: DataFrame, key: Column, value: Column,
      qs: Seq[(Int, Int)], exclusive: Boolean = false,
      bucketWidth: Long = 1L << 20): DataFrame =
    interpolated(df.select(key.as("k"), value.as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("w")),
      Seq("k"), qs, exclusive, bucketWidth)

  /** DuckDB replica of [[interpolatedQuantilesBy]] over events by
    * event_type on the µ-value. */
  def interpolatedQuantilesByOracleSql(qs: Seq[(Int, Int)],
      exclusive: Boolean = false): String = {
    val qrows = qs.flatMap { case (n, d) => Seq(s"($n, $d, 0)", s"($n, $d, 1)") }
      .mkString(", ")
    val hraw = if (exclusive) "(tw + 1) * q_num - q_den" else "(tw - 1) * q_num"
    s"""WITH byv AS (SELECT event_type AS k, CAST(round(value*1000000,0) AS BIGINT) AS v, count(*) AS w FROM events GROUP BY 1, 2),
cum AS (SELECT k, v, sum(w) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM byv),
tot AS (SELECT k, sum(w) AS tw FROM byv GROUP BY 1),
q(q_num, q_den, o) AS (VALUES $qrows),
t AS (SELECT cum.k, v, cw, tw, q_num, q_den, o, greatest(0, least($hraw, (tw - 1) * q_den)) AS hn FROM cum JOIN tot ON cum.k = tot.k, q),
t2 AS (SELECT *, (hn - hn % q_den) // q_den AS hf, hn % q_den AS rem FROM t),
f AS (SELECT k, q_num, q_den, min(CASE WHEN o = 0 THEN v END) AS v_lo, min(CASE WHEN o = 1 THEN v END) AS v_hi, max(rem) AS rem FROM t2 WHERE cw >= hf + 1 + o GROUP BY 1, 2, 3)
SELECT k, q_num, q_den, floor((CAST(v_lo AS DOUBLE) + CAST(rem AS DOUBLE)/CAST(q_den AS DOUBLE)*(CAST(coalesce(v_hi, v_lo) AS DOUBLE) - CAST(v_lo AS DOUBLE)))*1e6 + 0.5)/1e6 AS value FROM f"""
  }

  /** DuckDB replica of [[interpolatedQuantilesWeighted]] over events
    * on the µ-value, weight = 1 + user_id % 9 (the
    * q_weighted_quantile fixture). */
  def interpolatedQuantilesWeightedOracleSql(qs: Seq[(Int, Int)],
      exclusive: Boolean = false): String = {
    val qrows = qs.flatMap { case (n, d) => Seq(s"($n, $d, 0)", s"($n, $d, 1)") }
      .mkString(", ")
    val hraw = if (exclusive) "(tw + 1) * q_num - q_den" else "(tw - 1) * q_num"
    s"""WITH byv AS (SELECT CAST(round(value*1000000,0) AS BIGINT) AS v, sum(1 + user_id % 9) AS w FROM events GROUP BY 1),
cum AS (SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM byv),
tot AS (SELECT sum(w) AS tw FROM byv),
q(q_num, q_den, o) AS (VALUES $qrows),
t AS (SELECT v, cw, tw, q_num, q_den, o, greatest(0, least($hraw, (tw - 1) * q_den)) AS hn FROM cum, tot, q),
t2 AS (SELECT *, (hn - hn % q_den) // q_den AS hf, hn % q_den AS rem FROM t),
f AS (SELECT q_num, q_den, min(CASE WHEN o = 0 THEN v END) AS v_lo, min(CASE WHEN o = 1 THEN v END) AS v_hi, max(rem) AS rem FROM t2 WHERE cw >= hf + 1 + o GROUP BY 1, 2)
SELECT q_num, q_den, floor((CAST(v_lo AS DOUBLE) + CAST(rem AS DOUBLE)/CAST(q_den AS DOUBLE)*(CAST(coalesce(v_hi, v_lo) AS DOUBLE) - CAST(v_lo AS DOUBLE)))*1e6 + 0.5)/1e6 AS value FROM f"""
  }

  /** DuckDB replica of [[interpolatedQuantiles]] over events on the
    * µ-value — single global window allowed in the spec, identical
    * rank arithmetic and interpolation doubles. */
  def interpolatedQuantilesOracleSql(qs: Seq[(Int, Int)],
      exclusive: Boolean = false): String = {
    val qrows = qs.flatMap { case (n, d) => Seq(s"($n, $d, 0)", s"($n, $d, 1)") }
      .mkString(", ")
    val hraw = if (exclusive) "(tw + 1) * q_num - q_den" else "(tw - 1) * q_num"
    s"""WITH byv AS (SELECT CAST(round(value*1000000,0) AS BIGINT) AS v, count(*) AS w FROM events GROUP BY 1),
cum AS (SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM byv),
tot AS (SELECT sum(w) AS tw FROM byv),
q(q_num, q_den, o) AS (VALUES $qrows),
t AS (SELECT v, cw, tw, q_num, q_den, o, greatest(0, least($hraw, (tw - 1) * q_den)) AS hn FROM cum, tot, q),
t2 AS (SELECT *, (hn - hn % q_den) // q_den AS hf, hn % q_den AS rem FROM t),
f AS (SELECT q_num, q_den, min(CASE WHEN o = 0 THEN v END) AS v_lo, min(CASE WHEN o = 1 THEN v END) AS v_hi, max(rem) AS rem FROM t2 WHERE cw >= hf + 1 + o GROUP BY 1, 2)
SELECT q_num, q_den, floor((CAST(v_lo AS DOUBLE) + CAST(rem AS DOUBLE)/CAST(q_den AS DOUBLE)*(CAST(coalesce(v_hi, v_lo) AS DOUBLE) - CAST(v_lo AS DOUBLE)))*1e6 + 0.5)/1e6 AS value FROM f"""
  }

  /** ClickHouse `deltaSumTimestamp`/`deltaSum` analog: per key, the sum
    * of POSITIVE steps between consecutive values in (ts, tiebreak)
    * order — the standard monotone-counter-with-resets accumulator
    * (network byte counters, odometer readings). Integer µ-units.
    *
    * HOT-KEY posture (the fifteenth SCALE.md finding's bucket form): a
    * single per-key lag window buffers each key's whole history in one
    * WindowExec group, so one pathological key spills regardless of
    * partition sizing. The positive-step sum is segment-associative —
    * split a key's ordered rows at any boundary and the only
    * cross-segment term is max(0, firstOfNext − lastOfPrev) — so
    * phase 1 runs the lag window per (key, `bucket`) and reduces each
    * bucket to (in-bucket positive-step sum, first value, last value,
    * row count); phase 2 windows over the per-(key, bucket) AGGREGATE
    * rows to add the boundary steps, then one hash agg per key. The
    * raw rows shuffle exactly once.
    *
    * First/last-of-bucket are lexicographic struct min/max over
    * (ts_µs, tiebreak, value) — exact because (ts, tiebreak) is the
    * contract's total order.
    *
    * @param bucket monotone time bucketing (default: calendar day);
    *   size it so one key's rows per bucket stay in the thousands.
    * Output: (key k, delta_sum BIGINT, n BIGINT). */
  def deltaSum(events: DataFrame, key: Column, ts: Column, tiebreak: Column,
               valueMicros: Column,
               bucket: Column => Column = to_date(_)): DataFrame = {
    val wIn = Window.partitionBy(col("k"), col("b")).orderBy(col("tu"), col("tb"))
    val perBucket = events
      .select(key.as("k"), bucket(ts).as("b"), unix_micros(ts).as("tu"),
        tiebreak.as("tb"), valueMicros.as("v"))
      .withColumn("d", col("v") - coalesce(lag(col("v"), 1).over(wIn), col("v")))
      .groupBy(col("k"), col("b"))
      .agg(sum(greatest(col("d"), lit(0L))).as("pos"),
        min(struct(col("tu"), col("tb"), col("v"))).getField("v").as("v_first"),
        max(struct(col("tu"), col("tb"), col("v"))).getField("v").as("v_last"),
        count(lit(1)).as("cnt"))
    val wB = Window.partitionBy(col("k")).orderBy(col("b"))
    perBucket
      .withColumn("boundary", greatest(
        col("v_first") - coalesce(lag(col("v_last"), 1).over(wB), col("v_first")),
        lit(0L)))
      .groupBy(col("k"))
      .agg(sum(col("pos") + col("boundary")).as("delta_sum"),
        sum(col("cnt")).as("n"))
  }

  /** DuckDB replica of [[deltaSum]] keyed by user_id, ordered by
    * (ts, event_id), value = round(value·1e6). */
  val deltaSumOracleSql: String =
    """WITH r AS (SELECT user_id AS k, CAST(round(value*1000000,0) AS BIGINT) - coalesce(lag(CAST(round(value*1000000,0) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), CAST(round(value*1000000,0) AS BIGINT)) AS d FROM events)
SELECT k, CAST(sum(greatest(d, 0)) AS BIGINT) AS delta_sum, count(*) AS n FROM r GROUP BY 1"""

  /** ClickHouse `groupArrayMovingSum/Avg` analog: per-key daily sums,
    * then a rows-frame moving sum / count / average over the previous
    * `frame` daily rows. Integer micro-unit sums keep the moving sum
    * exact; the average divides two exact integers in double (identical
    * IEEE operation on both engines). The window partitions by key and
    * frames over the per-(key, day) AGGREGATE table — event volume is
    * reduced by the hash agg before any window runs.
    *
    * Output: (key k, day STRING, day_sum BIGINT µ, mov_sum BIGINT µ,
    * mov_cnt BIGINT, mov_avg DOUBLE). */
  def movingAgg(events: DataFrame, key: Column, ts: Column,
                valueMicros: Column, frame: Int): DataFrame =
    movingAggFromDaily(events.groupBy(key.as("k"), to_date(ts).as("d"))
      .agg(sum(valueMicros).as("day_sum")), frame)

  /** [[movingAgg]] starting from an already-aggregated per-(key, day)
    * table (k, d DATE, day_sum BIGINT µ) — the incremental entry point
    * (see [[gapFillDailyFromObs]]). */
  def movingAggFromDaily(daily: DataFrame, frame: Int): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("d"))
      .rowsBetween(-(frame - 1), Window.currentRow)
    daily.select(col("k"),
      date_format(col("d"), "yyyy-MM-dd").as("day"),
      col("day_sum"),
      sum(col("day_sum")).over(w).as("mov_sum"),
      count(lit(1)).over(w).as("mov_cnt"),
      (sum(col("day_sum")).over(w).cast("double") /
        count(lit(1)).over(w)).as("mov_avg"))
  }

  /** DuckDB replica of [[movingAgg]] keyed by event_type. */
  def movingAggOracleSql(frame: Int): String = {
    val fr = s"ROWS BETWEEN ${frame - 1} PRECEDING AND CURRENT ROW"
    s"""WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS d, CAST(sum(CAST(round(value*1000000,0) AS BIGINT)) AS BIGINT) AS day_sum FROM events GROUP BY 1,2)
SELECT k, strftime(d,'%Y-%m-%d') AS day, day_sum,
 CAST(sum(day_sum) OVER (PARTITION BY k ORDER BY d $fr) AS BIGINT) AS mov_sum,
 count(*) OVER (PARTITION BY k ORDER BY d $fr) AS mov_cnt,
 CAST(sum(day_sum) OVER (PARTITION BY k ORDER BY d $fr) AS DOUBLE) / count(*) OVER (PARTITION BY k ORDER BY d $fr) AS mov_avg
FROM daily"""
  }

  /** Audience-overlap matrix (ClickHouse `groupBitmapAnd` analog, exact):
    * for every ordered pair of event types, the number of users active
    * in BOTH, each side's audience size, and the exact Jaccard overlap.
    * The self-join runs on the DISTINCT (type, user) pair table — the
    * audience sets, not the event stream — co-partitioned on user; the
    * per-type sizes (|types| rows) join back broadcast. Pair volume per
    * user is |types active|², bounded by the type-domain cardinality,
    * never by event count.
    *
    * Jaccard is |A∩B| / (|A|+|B|−|A∩B|) over exact BIGINTs, rounded
    * half-up to 6 dp with the same floor formula on both engines.
    *
    * Output: (et_a, et_b, n_both BIGINT, users_a BIGINT, users_b BIGINT,
    * jaccard DOUBLE), et_a < et_b. */
  def audienceOverlap(events: DataFrame, key: Column, user: Column): DataFrame = {
    val au = events.select(key.as("et"), user.as("u")).distinct()
    val sizes = au.groupBy(col("et")).agg(count(lit(1)).as("n"))
    val a = au.select(col("et").as("et_a"), col("u"))
    val b = au.select(col("et").as("et_b"), col("u"))
    // the audience-pair table tracks |users| × |types| — corpus-derived
    val both = a.join(Joins.corpusSide(b), "u").filter(col("et_a") < col("et_b"))
      .groupBy(col("et_a"), col("et_b")).agg(count(lit(1)).as("n_both"))
    val j = col("n_both").cast("double") /
      (col("users_a") + col("users_b") - col("n_both"))
    both
      .join(broadcast(sizes.select(col("et").as("et_a"), col("n").as("users_a"))), "et_a")
      .join(broadcast(sizes.select(col("et").as("et_b"), col("n").as("users_b"))), "et_b")
      .select(col("et_a"), col("et_b"), col("n_both"),
        col("users_a"), col("users_b"),
        (floor(j * 1e6 + 0.5) / 1e6).as("jaccard"))
  }

  /** DuckDB replica of [[audienceOverlap]] over (event_type, user_id). */
  val audienceOverlapOracleSql: String =
    """WITH au AS (SELECT DISTINCT event_type AS et, user_id AS u FROM events),
sz AS (SELECT et, count(*) AS n FROM au GROUP BY 1),
p AS (SELECT a.et AS et_a, b.et AS et_b, count(*) AS n_both FROM au a JOIN au b ON a.u = b.u AND a.et < b.et GROUP BY 1,2)
SELECT et_a, et_b, n_both, sa.n AS users_a, sb.n AS users_b,
 floor(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) * 1e6 + 0.5) / 1e6 AS jaccard
FROM p JOIN sz sa ON p.et_a = sa.et JOIN sz sb ON p.et_b = sb.et"""

  /** Path-analysis trigram flows (the relational core of ClickHouse's
    * `sequenceNextNode` / sankey-style path reporting): for every user,
    * every consecutive (a → b → c) triple of event types in (ts,
    * tiebreak) order, counted across users. Output cardinality is
    * |type-domain|³, independent of event volume.
    *
    * HOT-KEY posture (fifteenth-finding bucket form): a single per-user
    * window buffers each user's whole event list in one WindowExec
    * group. Trigrams decompose over a bucket split with only TWO rows
    * of cross-boundary context: a trigram either lies entirely inside
    * one (user, `bucket`) group (phase 1: two `lead` offsets on the
    * bucket-partitioned window, one shared sort) or its FIRST row is
    * among the last 2 rows of some bucket and it extends into the next
    * 2 global rows. Phase 2 therefore reduces each bucket to its
    * ordered first-2 / last-2 step arrays (boundary rows are filtered
    * BEFORE the aggregate — no whole-bucket collect), windows over the
    * per-(user, bucket) AGGREGATE rows to splice each bucket's last-2
    * with the following buckets' first rows (two `lead`s cover a
    * 1-row next bucket), and emits the boundary trigrams — attributed
    * to the bucket of their first row, so no trigram is counted twice
    * and none is missed. Raw rows shuffle once; the only per-user
    * window runs on bucket-cardinality rows.
    *
    * @param bucket monotone time bucketing (default: calendar day).
    * Output: (a, b, c, cnt BIGINT). */
  def pathTrigrams(events: DataFrame, user: Column, ts: Column,
                   tiebreak: Column, step: Column,
                   bucket: Column => Column = to_date(_)): DataFrame = {
    val wIn = Window.partitionBy(col("u"), col("bkt")).orderBy(col("tu"), col("tb"))
    val e = events.select(user.as("u"), bucket(ts).as("bkt"),
      unix_micros(ts).as("tu"), tiebreak.as("tb"), step.as("a"))
    val windowed = e
      .withColumn("b", lead(col("a"), 1).over(wIn))
      .withColumn("c", lead(col("a"), 2).over(wIn))
      .withColumn("rn", row_number().over(wIn))
      .withColumn("cnt", count(lit(1)).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val inBucket = windowed
      .filter(col("b").isNotNull && col("c").isNotNull)
      .select(col("a"), col("b"), col("c"))
    // ≤4 boundary rows per bucket survive the filter; the collects are
    // bounded by construction, not by bucket row count
    val perBucket = windowed
      .filter(col("rn") <= 2 || col("rn") >= col("cnt") - 1)
      .groupBy(col("u"), col("bkt"))
      .agg(
        transform(array_sort(collect_list(
          when(col("rn") <= 2, struct(col("rn"), col("a"))))),
          x => x.getField("a")).as("first2"),
        transform(array_sort(collect_list(
          when(col("rn") >= col("cnt") - 1, struct(col("rn"), col("a"))))),
          x => x.getField("a")).as("last2"))
    val wB = Window.partitionBy(col("u")).orderBy(col("bkt"))
    // the 2 global rows following this bucket: first rows of the next
    // non-empty bucket(s) — two leads cover the 1-row-next-bucket case
    // slice(first2, 1, 0) is a type-correct empty array for the step's
    // element type (a bare array() literal is ArrayType(NullType))
    val emptyArr = slice(col("first2"), 1, 0)
    val next2 = slice(concat(
      coalesce(lead(col("first2"), 1).over(wB), emptyArr),
      coalesce(lead(col("first2"), 2).over(wB), emptyArr)), 1, 2)
    def tri(seqCol: Column, i: Int): Column =
      when(size(seqCol) >= i + 2, struct(
        element_at(seqCol, i).as("a"),
        element_at(seqCol, i + 1).as("b"),
        element_at(seqCol, i + 2).as("c")))
    val crossBucket = perBucket
      .withColumn("seq", concat(col("last2"), next2))
      .withColumn("l", size(col("last2")))
      // boundary trigrams start inside last2 (position ≤ l) and end
      // beyond it (position + 2 > l): i = 1 always qualifies; i = 2
      // only when the bucket contributed two last rows
      .select(explode(filter(array(
        tri(col("seq"), 1),
        when(col("l") === 2, tri(col("seq"), 2))),
        x => x.isNotNull)).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
    inBucket.unionAll(crossBucket)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB replica of [[pathTrigrams]] over events keyed by user_id. */
  val pathTrigramsOracleSql: String =
    """WITH r AS (SELECT event_type AS a, lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b, lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c FROM events)
SELECT a, b, c, count(*) AS cnt FROM r WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1, 2, 3"""

  /** Time-weighted average (the sampled-gauge mean — each sample holds
    * until the next one): per key, Σ vᵢ·dtᵢ / Σ dtᵢ over consecutive
    * samples in (ts, tiebreak) order, dt in whole seconds, value in
    * milli-units. The last sample carries no dt (nothing follows it).
    * Integer-exact numerator/denominator; overflow headroom: |v| ≤
    * 2^20 milli-units × dt ≤ 2^22 s × 2^20 rows/key stays under 2^62.
    * The avg divides the two exact BIGINTs in double — the identical
    * IEEE operation on both engines.
    *
    * HOT-KEY posture (fifteenth-finding bucket form): the v·dt sum is
    * segment-associative — split a key's samples at any boundary and
    * the only cross-segment interval is (last sample of the earlier
    * segment → first sample of the later one), valued at the earlier
    * segment's last v. Phase 1 runs the lead window per (key,
    * `bucket`) and reduces each bucket to (in-bucket Σv·dt, Σdt, first
    * ts, last ts, last v, count); phase 2 windows over the per-bucket
    * AGGREGATE rows to add each boundary interval (dt floored to whole
    * seconds per pair, exactly as in the single-window form), then one
    * hash agg per key. Raw samples shuffle once; no WindowExec group
    * exceeds one key's per-bucket rows.
    *
    * @param bucket monotone time bucketing (default: calendar day).
    * Output: (key k, tw_num BIGINT, tw_den BIGINT, tw_avg DOUBLE; a
    * key with a single sample has no interval and produces no row,
    * and tw_avg is null when all intervals round to zero seconds). */
  def timeWeightedAvg(events: DataFrame, key: Column, ts: Column,
                      tiebreak: Column, valueMilli: Column,
                      bucket: Column => Column = to_date(_)): DataFrame = {
    def floorSec(dtUs: Column): Column =
      ((dtUs - pmod(dtUs, lit(1000000L))) / lit(1000000L)).cast("long")
    val wIn = Window.partitionBy(col("k"), col("b")).orderBy(col("tu"), col("tb"))
    val dtUs = lead(col("tu"), 1).over(wIn) - col("tu")
    val perBucket = events
      .select(key.as("k"), bucket(ts).as("b"), unix_micros(ts).as("tu"),
        tiebreak.as("tb"), valueMilli.as("v"))
      .withColumn("dt_s", floorSec(dtUs))
      .groupBy(col("k"), col("b"))
      .agg(coalesce(sum(col("v") * col("dt_s")), lit(0L)).as("num_in"),
        coalesce(sum(col("dt_s")), lit(0L)).as("den_in"),
        min(struct(col("tu"), col("tb"))).getField("tu").as("first_tu"),
        max(struct(col("tu"), col("tb"), col("v"))).getField("tu").as("last_tu"),
        max(struct(col("tu"), col("tb"), col("v"))).getField("v").as("last_v"),
        count(lit(1)).as("cnt"))
    val wB = Window.partitionBy(col("k")).orderBy(col("b"))
    val bDt = floorSec(lead(col("first_tu"), 1).over(wB) - col("last_tu"))
    perBucket
      .withColumn("b_dt", coalesce(bDt, lit(0L)))
      .groupBy(col("k"))
      .agg(sum(col("num_in") + col("last_v") * col("b_dt")).as("tw_num"),
        sum(col("den_in") + col("b_dt")).as("tw_den"),
        sum(col("cnt")).as("n_samples"))
      .filter(col("n_samples") >= 2)
      .select(col("k"), col("tw_num"), col("tw_den"),
        when(col("tw_den") > 0,
          col("tw_num").cast("double") / col("tw_den").cast("double"))
          .as("tw_avg"))
  }

  /** DuckDB replica of [[timeWeightedAvg]] keyed by user_id,
    * value = round(value·1e3) milli-units. */
  val timeWeightedAvgOracleSql: String =
    """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS tu, event_id, CAST(round(value*1000,0) AS BIGINT) AS v FROM events),
r AS (SELECT k, v, (lead(tu, 1) OVER (PARTITION BY k ORDER BY tu, event_id) - tu) AS dtu FROM e),
g AS (SELECT k, CAST(sum(v * CAST((dtu - ((dtu % 1000000) + 1000000) % 1000000) / 1000000 AS BIGINT)) AS BIGINT) AS tw_num, CAST(sum(CAST((dtu - ((dtu % 1000000) + 1000000) % 1000000) / 1000000 AS BIGINT)) AS BIGINT) AS tw_den FROM r WHERE dtu IS NOT NULL GROUP BY 1)
SELECT k, tw_num, tw_den, CASE WHEN tw_den > 0 THEN CAST(tw_num AS DOUBLE) / CAST(tw_den AS DOUBLE) END AS tw_avg FROM g"""

  /** M4 time-series downsampling (Jugel et al., VLDB 2014 — the
    * error-free line-chart reduction): per (key, time bucket), the
    * min, max, first and last values. Rendering those four per pixel
    * column reproduces the exact line a full-resolution plot would
    * draw, at bucket-count rows instead of event count.
    *
    * One hash aggregate, no windows: first/last are lexicographic
    * min/max over (ts_µs, tiebreak, value) structs — (ts, tiebreak) is
    * a total order, so the struct min IS the first row's value, and
    * the aggregate stays a partial+final map-side-combinable pass.
    *
    * Output: (key k, bkt BIGINT, v_min, v_max, v_first, v_last BIGINT µ,
    * n BIGINT). */
  def m4Downsample(events: DataFrame, key: Column, ts: Column,
                   tiebreak: Column, valueMicros: Column,
                   bucketUs: Long): DataFrame = {
    val tu = unix_micros(ts)
    val bkt = ((tu - pmod(tu, lit(bucketUs))) / lit(bucketUs)).cast("long")
    events
      .select(key.as("k"), bkt.as("bkt"), tu.as("tu"),
        tiebreak.as("tb"), valueMicros.as("v"))
      .groupBy(col("k"), col("bkt"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        min(struct(col("tu"), col("tb"), col("v"))).getField("v").as("v_first"),
        max(struct(col("tu"), col("tb"), col("v"))).getField("v").as("v_last"),
        count(lit(1)).as("n"))
  }

  /** Mergeable PARTIAL state for [[m4Downsample]] — every M4 component
    * is associative+commutative (min, max, struct-min, struct-max,
    * count), so per-chunk partials land as AggregatingStore-style
    * additive parts and [[m4FromPartials]] finalizes by re-aggregating
    * with the same functions: part order, batching and compaction
    * schedule cannot change a bit. This is the incremental-MV path for
    * the chart-serving reduction (a foreachBatch sink appends one
    * partial per micro-batch; the dashboard read merges MV-cardinality
    * rows, never the stream). */
  def m4Partial(events: DataFrame, key: Column, ts: Column,
                tiebreak: Column, valueMicros: Column,
                bucketUs: Long): DataFrame = {
    val tu = unix_micros(ts)
    val bkt = ((tu - pmod(tu, lit(bucketUs))) / lit(bucketUs)).cast("long")
    events
      .select(key.as("k"), bkt.as("bkt"), tu.as("tu"),
        tiebreak.as("tb"), valueMicros.as("v"))
      .groupBy(col("k"), col("bkt"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        min(struct(col("tu"), col("tb"), col("v"))).as("first_s"),
        max(struct(col("tu"), col("tb"), col("v"))).as("last_s"),
        count(lit(1)).as("n"))
  }

  /** Finalize [[m4Partial]] parts: merge per (key, bucket), project
    * the [[m4Downsample]] output contract. */
  def m4FromPartials(parts: DataFrame): DataFrame =
    parts.groupBy(col("k"), col("bkt"))
      .agg(min(col("v_min")).as("v_min"), max(col("v_max")).as("v_max"),
        min(col("first_s")).as("first_s"), max(col("last_s")).as("last_s"),
        sum(col("n")).as("n"))
      .select(col("k"), col("bkt"), col("v_min"), col("v_max"),
        col("first_s").getField("v").as("v_first"),
        col("last_s").getField("v").as("v_last"), col("n"))

  /** DuckDB replica of [[m4Downsample]] keyed by event_type (row_number
    * form — equivalent to the struct min/max because (ts, event_id) is
    * a total order). */
  def m4DownsampleOracleSql(bucketUs: Long): String =
    s"""WITH e AS (SELECT event_type AS k, CAST((epoch_us(ts) - ((epoch_us(ts) % $bucketUs) + $bucketUs) % $bucketUs) / $bucketUs AS BIGINT) AS bkt, epoch_us(ts) AS tu, event_id, CAST(round(value*1000000,0) AS BIGINT) AS v FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY k, bkt ORDER BY tu, event_id) AS rn_a, row_number() OVER (PARTITION BY k, bkt ORDER BY tu DESC, event_id DESC) AS rn_d FROM e)
SELECT k, bkt, min(v) AS v_min, max(v) AS v_max, min(CASE WHEN rn_a = 1 THEN v END) AS v_first, min(CASE WHEN rn_d = 1 THEN v END) AS v_last, count(*) AS n FROM r GROUP BY 1, 2"""

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013;
    * ClickHouse `largestTriangleThreeBuckets`), re-expressed for
    * parallel execution. The sequential original anchors each bucket's
    * triangle on the PREVIOUSLY SELECTED point — a loop-carried
    * dependency no distributed plan can honor. This variant anchors on
    * the previous bucket's CENTROID instead (the approximation the
    * original already applies to the NEXT bucket), making every
    * bucket's argmax independent: one centroid hash agg, one join, one
    * argmax hash agg — no per-point window, so a dense bucket never
    * becomes a WindowExec group.
    *
    * Buckets are fixed `bucketUs` time windows (the [[m4Downsample]]
    * convention rather than equal point counts), indexed per key over
    * NON-EMPTY buckets so time gaps don't break neighbor adjacency.
    * Edge contract: the first bucket returns the series' first point,
    * the last its last point (a single-bucket series returns its first
    * point); middle buckets return the max-area point.
    *
    * Determinism: the area comparison is EXACT integer arithmetic —
    * N = (x·nₐ − Σxₐ)·(nₐ·Σy_c − n_c·Σyₐ) − (nₐ·Σx_c − n_c·Σxₐ)·(y·nₐ − Σyₐ)
    * is the doubled triangle area scaled by nₐ²·n_c > 0, carried in
    * DECIMAL(38,0) (HUGEINT in the oracle); ties break on smallest
    * (tu, tiebreak). Every factor is translation-invariant
    * (x·nₐ − Σxₐ = nₐ·(x − x̄ₐ)), so magnitudes track bucket SPANS:
    * |N| ≲ nₐ²·n_c·Δx·Δy stays under 10³⁸ for µs×µ-unit series with
    * per-bucket counts up to ~10⁶ — bucketUs is the resolution knob.
    *
    * Output: (k, bkt BIGINT, tu BIGINT epoch-µs, v BIGINT µ). */
  def lttb(events: DataFrame, key: Column, ts: Column, tiebreak: Column,
      valueMicros: Column, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val dec38 = DecimalType(38, 0)
    def d38(c: Column): Column = c.cast(dec38)
    val tu = unix_micros(ts)
    val bkt = ((tu - pmod(tu, lit(bucketUs))) / lit(bucketUs)).cast("long")
    val pts = events.select(key.as("k"), bkt.as("bkt"), tu.as("tu"),
      tiebreak.as("tb"), valueMicros.as("v"))
    val cent = pts.groupBy(col("k"), col("bkt"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("tu"))).as("sx"), sum(d38(col("v"))).as("sy"),
        min(struct(col("tu"), col("tb"), col("v"))).as("first_s"),
        max(struct(col("tu"), col("tb"), col("v"))).as("last_s"))
    // neighbor centroids by non-empty-bucket INDEX; the window groups
    // are per-key BUCKET counts (span/bucketUs — the M4 result class),
    // never event counts
    val wk = Window.partitionBy(col("k")).orderBy(col("bkt"))
    val idx = cent
      .withColumn("i", row_number().over(wk))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("k"))))
      .withColumn("na", lag(col("n"), 1).over(wk))
      .withColumn("sxa", lag(col("sx"), 1).over(wk))
      .withColumn("sya", lag(col("sy"), 1).over(wk))
      .withColumn("nc", lead(col("n"), 1).over(wk))
      .withColumn("sxc", lead(col("sx"), 1).over(wk))
      .withColumn("syc", lead(col("sy"), 1).over(wk))
    val edges = idx
      .filter(col("i") === 1 || col("i") === col("m"))
      .select(col("k"), col("bkt"),
        when(col("i") === 1, col("first_s")).otherwise(col("last_s")).as("s"))
      .select(col("k"), col("bkt"),
        col("s").getField("tu").as("tu"), col("s").getField("v").as("v"))
    val mids = pts.join(Joins.corpusSide(
        idx.filter(col("i") > 1 && col("i") < col("m"))
          .select(col("k"), col("bkt"), col("na"), col("sxa"), col("sya"),
            col("nc"), col("sxc"), col("syc"))),
      Seq("k", "bkt"))
    val termA = d38(col("tu")) * col("na") - col("sxa")
    val termB = col("na") * col("syc") - col("nc") * col("sya")
    val termC = col("na") * col("sxc") - col("nc") * col("sxa")
    val termD = d38(col("v")) * col("na") - col("sya")
    val area = abs(termA * termB - termC * termD)
    val picked = mids
      .select(col("k"), col("bkt"),
        struct(area.as("a"), (lit(0L) - col("tu")).as("ntu"),
          (lit(0L) - col("tb")).as("ntb"),
          col("tu"), col("v")).as("cand"))
      .groupBy(col("k"), col("bkt"))
      .agg(max(col("cand")).as("mx"))
      .select(col("k"), col("bkt"),
        col("mx").getField("tu").as("tu"), col("mx").getField("v").as("v"))
    edges.unionByName(picked)
  }

  /** DuckDB replica of [[lttb]] keyed by event_type with event_id
    * tiebreak (row_number form of the argmax — equivalent to the
    * struct max because (area DESC, tu, tb) is a total order). */
  def lttbOracleSql(bucketUs: Long): String =
    s"""WITH e AS (SELECT event_type AS k, CAST((epoch_us(ts) - ((epoch_us(ts) % $bucketUs) + $bucketUs) % $bucketUs) / $bucketUs AS BIGINT) AS bkt, epoch_us(ts) AS tu, event_id, CAST(round(value*1000000,0) AS BIGINT) AS v FROM events),
cent AS (SELECT k, bkt, count(*) AS n, sum(CAST(tu AS HUGEINT)) AS sx, sum(CAST(v AS HUGEINT)) AS sy FROM e GROUP BY 1, 2),
idx AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY bkt) AS i, count(*) OVER (PARTITION BY k) AS m, lag(n) OVER w AS na, lag(sx) OVER w AS sxa, lag(sy) OVER w AS sya, lead(n) OVER w AS nc, lead(sx) OVER w AS sxc, lead(sy) OVER w AS syc FROM cent WINDOW w AS (PARTITION BY k ORDER BY bkt)),
r AS (SELECT *, row_number() OVER (PARTITION BY k, bkt ORDER BY tu, event_id) AS rn_a, row_number() OVER (PARTITION BY k, bkt ORDER BY tu DESC, event_id DESC) AS rn_d FROM e),
fl AS (SELECT k, bkt, min(CASE WHEN rn_a = 1 THEN tu END) AS ftu, min(CASE WHEN rn_a = 1 THEN v END) AS fv, min(CASE WHEN rn_d = 1 THEN tu END) AS ltu, min(CASE WHEN rn_d = 1 THEN v END) AS lv FROM r GROUP BY 1, 2),
edges AS (SELECT idx.k, idx.bkt, CASE WHEN i = 1 THEN ftu ELSE ltu END AS tu, CASE WHEN i = 1 THEN fv ELSE lv END AS v FROM idx JOIN fl ON idx.k = fl.k AND idx.bkt = fl.bkt WHERE i = 1 OR i = m),
mids AS (SELECT e.k, e.bkt, e.tu, e.v, e.event_id, abs((CAST(e.tu AS HUGEINT)*na - sxa)*(na*syc - nc*sya) - (na*sxc - nc*sxa)*(CAST(e.v AS HUGEINT)*na - sya)) AS area FROM e JOIN idx ON e.k = idx.k AND e.bkt = idx.bkt WHERE i > 1 AND i < m),
sel AS (SELECT k, bkt, tu, v FROM mids QUALIFY row_number() OVER (PARTITION BY k, bkt ORDER BY area DESC, tu ASC, event_id ASC) = 1)
SELECT k, bkt, tu, v FROM edges UNION ALL SELECT k, bkt, tu, v FROM sel"""

  /** ClickHouse `retention(cond₁, …, condₙ)` analog, aggregated: the
    * number of users satisfying cond₁, and for each later condition
    * the number satisfying BOTH cond₁ and condᵢ (the classic cohort
    * retention row). Two hash aggregates — per-user boolean max
    * (map-side combinable), then a one-row global sum — linear, no
    * window, no ordering sensitivity (retention is about EVER-match,
    * not sequence; [[sequenceMatchUsers]] is the ordered variant).
    *
    * Output: one row (r1 BIGINT, r2 BIGINT, …, rn BIGINT). */
  def retention(events: DataFrame, user: Column, conds: Seq[Column]): DataFrame = {
    require(conds.nonEmpty, "retention needs at least one condition")
    val flagCols = conds.zipWithIndex.map { case (c, i) =>
      max(when(c, lit(1L)).otherwise(lit(0L))).as(s"f${i + 1}") }
    val flags = events.groupBy(user.as("u")).agg(flagCols.head, flagCols.tail: _*)
    val rs = sum(col("f1")).as("r1") +: (2 to conds.size).map(i =>
      sum(col("f1") * col(s"f$i")).as(s"r$i"))
    flags.agg(rs.head, rs.tail: _*)
  }

  /** DuckDB replica of a 3-condition [[retention]] keyed by user_id
    * with event_type equality conditions. */
  def retentionOracleSql(c1: String, c2: String, c3: String): String =
    s"""WITH f AS (SELECT user_id, max(CASE WHEN event_type='$c1' THEN 1 ELSE 0 END) AS f1, max(CASE WHEN event_type='$c2' THEN 1 ELSE 0 END) AS f2, max(CASE WHEN event_type='$c3' THEN 1 ELSE 0 END) AS f3 FROM events GROUP BY 1)
SELECT CAST(sum(f1) AS BIGINT) AS r1, CAST(sum(f1*f2) AS BIGINT) AS r2, CAST(sum(f1*f3) AS BIGINT) AS r3 FROM f"""

  /** ClickHouse `skewPop` / `kurtPop` / `corr` analog family, exact
    * where exactness is possible: per key, the INTEGER power sums
    * Σv, Σv², Σv³, Σv⁴ (and Σu, Σu², Σuv for the correlation pair)
    * accumulate in DECIMAL(38,0) — order-independent, so the hash agg
    * is deterministic under any partitioning — and the derived
    * population moments divide the exact sums in double with the SAME
    * operation sequence the oracle SQL spells out (both engines then
    * perform identical IEEE steps). A naive corr()/skewness() call
    * accumulates doubles in partition order — unstable across engines
    * AND across runs; this form is the reproducible one.
    *
    * The exact sums are emitted as canonical STRINGS (integer decimal
    * → text is engine-independent; a double cast of a >2⁵³ sum is
    * not). Input contract: |v| and |u| ≤ ~10⁵ units keep Σv⁴ under
    * 10²⁰·rows — within DECIMAL(38,0) for ≤10¹⁸ rows.
    *
    * Output: (key k, n BIGINT, s1 .. s4 STRING, su, suu, suv STRING,
    * mean, var_pop, skew_pop, kurt_pop, corr DOUBLE — null where the
    * population moment is undefined). */
  def momentStats(df: DataFrame, key: Column, v: Column, u: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    def d(c: Column) = c.cast(dec)
    val sums = df
      .select(key.as("k"), v.cast("long").as("v"), u.cast("long").as("u"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("v"))).as("s1d"),
        sum(d(col("v")) * d(col("v"))).as("s2d"),
        sum(d(col("v")) * d(col("v")) * d(col("v"))).as("s3d"),
        sum(d(col("v")) * d(col("v")) * d(col("v")) * d(col("v"))).as("s4d"),
        sum(d(col("u"))).as("sud"),
        sum(d(col("u")) * d(col("u"))).as("suud"),
        sum(d(col("v")) * d(col("u"))).as("suvd"))
    // derived population moments: every double op below mirrors the
    // oracle SQL text operation-for-operation
    val nD = col("n").cast("double")
    def dd(c: String) = col(c).cast("double")
    val mean = dd("s1d") / nD
    val meanU = dd("sud") / nD
    val m2 = dd("s2d") / nD - mean * mean
    val m3 = dd("s3d") / nD - lit(3.0) * mean * (dd("s2d") / nD) +
      lit(2.0) * mean * mean * mean
    val m4 = dd("s4d") / nD - lit(4.0) * mean * (dd("s3d") / nD) +
      lit(6.0) * mean * mean * (dd("s2d") / nD) -
      lit(3.0) * mean * mean * mean * mean
    val varU = dd("suud") / nD - meanU * meanU
    val cov = dd("suvd") / nD - mean * meanU
    // the EXACT answers are the decimal sums (emitted as strings); the
    // derived doubles involve >2^53 decimal→double casts whose final
    // ulp the two engines may round differently, amplified by the
    // central-moment cancellation — so they carry the engine-shared
    // 6-dp floor rounding (the audienceOverlap jaccard idiom)
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    sums.select(col("k"), col("n"),
      col("s1d").cast("string").as("s1"),
      col("s2d").cast("string").as("s2"),
      col("s3d").cast("string").as("s3"),
      col("s4d").cast("string").as("s4"),
      col("sud").cast("string").as("su"),
      col("suud").cast("string").as("suu"),
      col("suvd").cast("string").as("suv"),
      mean.as("mean"),
      when(col("n") > 0, r6(m2)).as("var_pop"),
      when(m2 > 0, r6(m3 / sqrt(m2 * m2 * m2))).as("skew_pop"),
      when(m2 > 0, r6(m4 / (m2 * m2))).as("kurt_pop"),
      when(m2 > 0 && varU > 0, r6(cov / sqrt(m2 * varU))).as("corr"))
  }

  /** DuckDB replica of [[momentStats]] keyed by event_type with
    * v = round(value·100) centi-units and u = user_id — every double
    * operation mirrors the Spark expressions above. */
  val momentStatsOracleSql: String = {
    val v = "CAST(round(value*100,0) AS BIGINT)"
    s"""WITH s AS (SELECT event_type AS k, count(*) AS n,
 sum(CAST($v AS DECIMAL(38,0))) AS s1d,
 sum(CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0))) AS s2d,
 sum(CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0))) AS s3d,
 sum(CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0)) * CAST($v AS DECIMAL(38,0))) AS s4d,
 sum(CAST(user_id AS DECIMAL(38,0))) AS sud,
 sum(CAST(user_id AS DECIMAL(38,0)) * CAST(user_id AS DECIMAL(38,0))) AS suud,
 sum(CAST($v AS DECIMAL(38,0)) * CAST(user_id AS DECIMAL(38,0))) AS suvd
 FROM events GROUP BY 1),
m AS (SELECT k, n,
 CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE) AS mean, CAST(sud AS DOUBLE)/CAST(n AS DOUBLE) AS meanu,
 CAST(s2d AS DOUBLE)/CAST(n AS DOUBLE) - (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) AS m2,
 CAST(s3d AS DOUBLE)/CAST(n AS DOUBLE) - 3.0 * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s2d AS DOUBLE)/CAST(n AS DOUBLE)) + 2.0 * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) AS m3,
 CAST(s4d AS DOUBLE)/CAST(n AS DOUBLE) - 4.0 * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s3d AS DOUBLE)/CAST(n AS DOUBLE)) + 6.0 * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s2d AS DOUBLE)/CAST(n AS DOUBLE)) - 3.0 * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) AS m4,
 CAST(suud AS DOUBLE)/CAST(n AS DOUBLE) - (CAST(sud AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(sud AS DOUBLE)/CAST(n AS DOUBLE)) AS varu,
 CAST(suvd AS DOUBLE)/CAST(n AS DOUBLE) - (CAST(s1d AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(sud AS DOUBLE)/CAST(n AS DOUBLE)) AS cov,
 CAST(s1d AS VARCHAR) AS s1, CAST(s2d AS VARCHAR) AS s2, CAST(s3d AS VARCHAR) AS s3, CAST(s4d AS VARCHAR) AS s4,
 CAST(sud AS VARCHAR) AS su, CAST(suud AS VARCHAR) AS suu, CAST(suvd AS VARCHAR) AS suv
 FROM s)
SELECT k, n, s1, s2, s3, s4, su, suu, suv, mean,
 CASE WHEN n > 0 THEN floor(m2 * 1e6 + 0.5) / 1e6 END AS var_pop,
 CASE WHEN m2 > 0 THEN floor(m3 / sqrt(m2*m2*m2) * 1e6 + 0.5) / 1e6 END AS skew_pop,
 CASE WHEN m2 > 0 THEN floor(m4 / (m2*m2) * 1e6 + 0.5) / 1e6 END AS kurt_pop,
 CASE WHEN m2 > 0 AND varu > 0 THEN floor(cov / sqrt(m2*varu) * 1e6 + 0.5) / 1e6 END AS corr
FROM m"""
  }

  /** ClickHouse `sumMap` analog: per key, the element-wise sum of
    * (map-key → value) entries, emitted as a canonical sorted
    * "mapkey:sum" joined string (both engines stringify BIGINTs
    * identically, and one entry per distinct map-key makes the string
    * sort a map-key sort). Two hash aggs — (key, map-key) sums, then a
    * per-key collect bounded by the map-key domain — no per-event state.
    *
    * Output: (key k, m STRING). */
  def sumMap(events: DataFrame, key: Column, mapKey: Column,
             valueMicros: Column): DataFrame = {
    events.groupBy(key.as("k"), mapKey.as("mk"))
      .agg(sum(valueMicros).as("v"))
      .groupBy(col("k"))
      .agg(array_join(sort_array(collect_list(
        concat(col("mk"), lit(":"), col("v").cast("string")))), ",").as("m"))
  }

  /** ClickHouse `minMap`/`maxMap` companions to [[sumMap]]: per key,
    * the canonical sorted `mk:min,…` / `mk:max,…` map strings in one
    * hash aggregate. */
  def minMaxMap(events: DataFrame, key: Column, mapKey: Column,
      valueMicros: Column): DataFrame = {
    events.groupBy(key.as("k"), mapKey.as("mk"))
      .agg(min(valueMicros).as("mn"), max(valueMicros).as("mx"))
      .groupBy(col("k"))
      .agg(
        array_join(sort_array(collect_list(
          concat(col("mk"), lit(":"), col("mn").cast("string")))), ",").as("min_map"),
        array_join(sort_array(collect_list(
          concat(col("mk"), lit(":"), col("mx").cast("string")))), ",").as("max_map"))
  }

  /** DuckDB replica of [[minMaxMap]] keyed by user_id with map-key
    * event_type. */
  val minMaxMapOracleSql: String =
    """WITH g AS (SELECT user_id AS k, event_type AS mk, min(CAST(round(value*1000000,0) AS BIGINT)) AS mn, max(CAST(round(value*1000000,0) AS BIGINT)) AS mx FROM events GROUP BY 1, 2)
SELECT k, string_agg(mk || ':' || CAST(mn AS VARCHAR), ',' ORDER BY mk || ':' || CAST(mn AS VARCHAR)) AS min_map,
 string_agg(mk || ':' || CAST(mx AS VARCHAR), ',' ORDER BY mk || ':' || CAST(mx AS VARCHAR)) AS max_map
FROM g GROUP BY 1"""

  /** ClickHouse `boundingRatio(t, v)` analog: per key, the slope
    * between the chronologically first and last points —
    * (v_last − v_first) / (t_last − t_first) in seconds. One hash
    * aggregate of (t, tiebreak, v) struct min/max; exact integer
    * numerator/denominator emitted alongside the r6 double ratio
    * (null for single-point keys). */
  def boundingRatio(events: DataFrame, key: Column, ts: Column,
      tiebreak: Column, valueMicros: Column): DataFrame = {
    val agg = events.select(key.as("k"), unix_micros(ts).as("tu"),
        tiebreak.as("tb"), valueMicros.as("v"))
      .groupBy(col("k"))
      .agg(min(struct(col("tu"), col("tb"), col("v"))).as("f"),
        max(struct(col("tu"), col("tb"), col("v"))).as("l"))
    val dv = col("l").getField("v") - col("f").getField("v")
    val dt = col("l").getField("tu") - col("f").getField("tu")
    agg.select(col("k"), dv.as("dv"), dt.as("dt_us"),
      when(dt > 0, floor(dv.cast("double") /
        (dt.cast("double") / lit(1e6)) * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("ratio"))
  }

  /** DuckDB replica of [[boundingRatio]] keyed by event_type. */
  val boundingRatioOracleSql: String =
    """WITH e AS (SELECT event_type AS k, epoch_us(ts) AS tu, event_id AS tb, CAST(round(value*1000000,0) AS BIGINT) AS v FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY tu, tb, v) AS rn_a, row_number() OVER (PARTITION BY k ORDER BY tu DESC, tb DESC, v DESC) AS rn_d FROM e),
fl AS (SELECT k, min(CASE WHEN rn_a = 1 THEN v END) AS fv, min(CASE WHEN rn_a = 1 THEN tu END) AS ftu, min(CASE WHEN rn_d = 1 THEN v END) AS lv, min(CASE WHEN rn_d = 1 THEN tu END) AS ltu FROM r GROUP BY 1)
SELECT k, lv - fv AS dv, ltu - ftu AS dt_us,
 CASE WHEN ltu - ftu > 0 THEN floor(CAST(lv - fv AS DOUBLE)/(CAST(ltu - ftu AS DOUBLE)/1e6)*1e6+0.5)/1e6 END AS ratio
FROM fl"""

  /** ClickHouse `sparkbar(N)` analog: per key, an N-character block
    * bar chart of the per-time-bucket µ-sums, levels 1–8 normalized
    * to the key's max bucket (empty buckets render as spaces). Level
    * arithmetic is exact integer — ceil(8·v/max) = (8v + max − 1)
    * div max — and the glyph is drawn by substring from a shared
    * literal, so both engines emit identical strings. */
  def sparkbar(events: DataFrame, key: Column, ts: Column,
      valueMicros: Column, buckets: Int, spanStartUs: Long,
      spanUs: Long): DataFrame = {
    require(buckets >= 1 && buckets <= 256, "buckets must be in [1, 256]")
    require(spanUs > 0, "span must be positive")
    val spark = events.sparkSession
    val w = spanUs / buckets
    val bkt = least(lit(buckets.toLong - 1), greatest(lit(0L),
      ((unix_micros(ts) - lit(spanStartUs)) / lit(w)).cast("long")))
    val sums = events.select(key.as("k"), bkt.as("b"), valueMicros.as("v"))
      .groupBy(col("k"), col("b")).agg(sum(col("v")).as("s"))
    val mx = sums.groupBy(col("k")).agg(max(col("s")).as("mx"))
    val grid = mx.crossJoin(spark.range(buckets).select(col("id").as("b")))
      .join(sums, Seq("k", "b"), "left")
    val lvl = when(col("s").isNull || col("s") <= 0 || col("mx") <= 0, lit(0L))
      .otherwise(expr("(8 * s + mx - 1) div mx"))
    grid.select(col("k"), col("b"),
        substring(lit(" ▁▂▃▄▅▆▇█"),
          (lvl + 1).cast("int"), lit(1)).as("ch"))
      .groupBy(col("k"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("b"), col("ch")))), x => x.getField("ch")), "").as("bar"))
  }

  /** DuckDB replica of [[sparkbar]] keyed by event_type. */
  def sparkbarOracleSql(buckets: Int, spanStartUs: Long,
      spanUs: Long): String = {
    val w = spanUs / buckets
    s"""WITH e AS (SELECT event_type AS k, least(${buckets - 1}, greatest(0, (epoch_us(ts) - $spanStartUs) // $w)) AS b, CAST(round(value*1000000,0) AS BIGINT) AS v FROM events),
sums AS (SELECT k, b, sum(v) AS s FROM e GROUP BY 1, 2),
mx AS (SELECT k, max(s) AS mx FROM sums GROUP BY 1),
grid AS (SELECT mx.k, t.b, sums.s, mx.mx FROM mx CROSS JOIN (SELECT unnest(range(0, $buckets)) AS b) t LEFT JOIN sums ON sums.k = mx.k AND sums.b = t.b),
lv AS (SELECT k, b, CASE WHEN s IS NULL OR s <= 0 OR mx <= 0 THEN 0 ELSE (8 * s + mx - 1) // mx END AS lvl FROM grid)
SELECT k, string_agg(substring(' ▁▂▃▄▅▆▇█', CAST(lvl + 1 AS INT), 1), '' ORDER BY b) AS bar FROM lv GROUP BY 1"""
  }

  /** DuckDB replica of [[sumMap]] keyed by user_id with map-key
    * event_type. */
  val sumMapOracleSql: String =
    """WITH s AS (SELECT user_id AS k, event_type AS mk, CAST(sum(CAST(round(value*1000000,0) AS BIGINT)) AS BIGINT) AS v FROM events GROUP BY 1,2)
SELECT k, array_to_string(list_sort(list(mk || ':' || CAST(v AS VARCHAR))), ',') AS m FROM s GROUP BY 1"""

  /** ClickHouse `exponentialTimeDecayedSum/Count/Avg/Max(λ)(v, t)`
    * analog: per key, the exponentially time-decayed aggregate of the
    * value series relative to the key's OWN latest activity — the
    * "current decayed score" a serving tier reads (freshness-weighted
    * engagement, decayed QPS, trending rank).
    *
    * Exactness contract (the HDR-grid discipline): instead of
    * `exp(-λΔt)` per row — transcendental, so never bit-portable —
    * time is quantized to the HALF-LIFE GRID `b = ⌊t_µs / h⌋` and the
    * weight of bucket b is the dyadic rational 2^(b − b_max). That
    * keeps every step in integer algebra: per-(key, bucket) sums are
    * plain hash-agg partials, the weighting multiplies by the integer
    * `2^(cap−1−kk)` (kk = b_max − b), and the ONLY float ops are one
    * exact DECIMAL→DOUBLE conversion plus two divisions by exact
    * power-of-two / power-of-ten literals — identical IEEE steps both
    * engines run. Buckets older than `cap` half-lives weigh 0
    * (< 2^-19 ≈ 1.9e-6 of a current-bucket row at the default).
    *
    * Scale: the decayed mass is INTRINSICALLY bounded — the geometric
    * series caps the effective window at ~2 half-lives of event volume
    * no matter how old the corpus is — and the plan never windows raw
    * rows: phase 1 is one hash agg to (key, bucket) partials
    * (DECIMAL(38,0), overflow-safe; additive, so a Summing MV can
    * serve them), phase 2 windows over the per-key BUCKET rows (≤
    * span/halfLife rows per key, bounded by construction — the
    * movingAgg exception). Exact-conversion bound: partials stay below
    * 2^53 while Σ|v_milli|·2^(cap−1) per key does, i.e. ~10^10
    * milli-mass per key at the default cap — raise the grid (or emit
    * `sq`/`cq` fixed-point integers) past that.
    *
    * Contract: key/ts/valueMilli non-null (nulls dropped), ts ≥ epoch
    * (DIV truncation = floor only for non-negative micros).
    *
    * Output: (key k, decayed_sum DOUBLE units, decayed_cnt DOUBLE,
    * decayed_avg DOUBLE units, decayed_max DOUBLE units). */
  def expTimeDecayed(events: DataFrame, key: Column, ts: Column,
      valueMilli: Column, halfLifeSeconds: Long, cap: Int = 20): DataFrame = {
    require(halfLifeSeconds > 0, "halfLifeSeconds must be positive")
    val dec = DecimalType(38, 0)
    val h = halfLifeSeconds * 1000000L
    val perBucket = events
      .where(key.isNotNull && ts.isNotNull && valueMilli.isNotNull)
      .select(key.as("k"), unix_micros(ts).as("tu"), valueMilli.as("v"))
      .withColumn("b", expr(s"tu div $h"))
      .groupBy(col("k"), col("b"))
      .agg(sum(col("v").cast(dec)).as("s"),
        count(lit(1)).cast(dec).as("c"),
        max(col("v")).as("mx"))
    expTimeDecayedFromBuckets(perBucket, cap)
  }

  /** [[expTimeDecayed]] phase 2 over an already-built per-(key,
    * half-life-bucket) table (k, b BIGINT, s DECIMAL Σv_milli,
    * c DECIMAL count, mx BIGINT max v_milli) — the INCREMENTAL entry
    * point: every bucket column is cnt/sum/max-additive, so an
    * [[graft.sinks.AggregatingStore]] MV maintains the table across
    * micro-batches and this readout serves the live decayed score. */
  def expTimeDecayedFromBuckets(perBucket: DataFrame, cap: Int = 20): DataFrame = {
    require(cap >= 1 && cap <= 62, "cap must be in [1, 62]")
    val dec = DecimalType(38, 0)
    val wK = Window.partitionBy(col("k"))
    val p2 = math.pow(2, cap - 1) // exact double: 2^(cap-1), cap ≤ 62
    perBucket
      .withColumn("kk", (max(col("b")).over(wK) - col("b")).cast("int"))
      .where(col("kk") < cap)
      .withColumn("w2", expr(s"shiftleft(CAST(1 AS BIGINT), ${cap - 1} - kk)"))
      .groupBy(col("k"))
      .agg(sum(col("s") * col("w2")).as("sq"),
        sum(col("c") * col("w2")).as("cq"),
        max(col("mx").cast(dec) * col("w2")).as("mq"))
      .select(col("k"),
        (col("sq").cast("double") / lit(p2) / lit(1000.0)).as("decayed_sum"),
        (col("cq").cast("double") / lit(p2)).as("decayed_cnt"),
        (col("sq").cast("double") / col("cq").cast("double") / lit(1000.0))
          .as("decayed_avg"),
        (col("mq").cast("double") / lit(p2) / lit(1000.0)).as("decayed_max"))
  }

  /** DuckDB replica of [[expTimeDecayed]] keyed by user_id on
    * milli-unit value — HUGEINT partials mirror the DECIMAL(38,0)
    * ones; the weighting shift, the single exact cast and the division
    * order are operation-for-operation identical. */
  def expTimeDecayedOracleSql(halfLifeSeconds: Long, cap: Int = 20): String = {
    val h = halfLifeSeconds * 1000000L
    val p2 = (1L << (cap - 1)).toDouble
    s"""WITH e AS (SELECT user_id AS k, epoch_us(ts) AS tu, CAST(round(value*1000,0) AS BIGINT) AS v FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
pb AS (SELECT k, tu // $h AS b, sum(CAST(v AS HUGEINT)) AS s, CAST(count(*) AS HUGEINT) AS c, max(v) AS mx FROM e GROUP BY 1, 2),
w AS (SELECT *, CAST(max(b) OVER (PARTITION BY k) - b AS INT) AS kk FROM pb),
f AS (SELECT k, s, c, mx, (CAST(1 AS BIGINT) << (${cap - 1} - kk)) AS w2 FROM w WHERE kk < $cap),
a AS (SELECT k, sum(s * w2) AS sq, sum(c * w2) AS cq, max(CAST(mx AS HUGEINT) * w2) AS mq FROM f GROUP BY 1)
SELECT k, CAST(sq AS DOUBLE) / $p2 / 1000.0 AS decayed_sum,
 CAST(cq AS DOUBLE) / $p2 AS decayed_cnt,
 CAST(sq AS DOUBLE) / CAST(cq AS DOUBLE) / 1000.0 AS decayed_avg,
 CAST(mq AS DOUBLE) / $p2 / 1000.0 AS decayed_max FROM a"""
  }
}
