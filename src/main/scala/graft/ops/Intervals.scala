package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse `maxIntersections` / `maxIntersectionsPosition` analog:
  * the peak number of simultaneously-open intervals and the earliest
  * instant at which the peak is reached (peak concurrency — the classic
  * "max concurrent sessions" dashboard statistic over the reference's
  * engagement events; each event opens an interval of its engagement
  * duration).
  *
  * Semantics: intervals are half-open [start, end); at equal instants
  * the −1 (close) delta orders before the +1 (open), so an interval
  * ending exactly when another starts never overlaps it. The running
  * sum is prefix-INCLUSIVE, and the position is the `t` of the first
  * delta row where the running sum attains the global maximum.
  *
  * Scale shape — a TWO-PHASE sweep line, never a global window:
  *  1. each event explodes to two delta rows (+1 at start, −1 at end);
  *     phase one partitions the sweep by calendar day of `t` and runs
  *     the running-sum window INSIDE each day (day-partitioned sort,
  *     spillable, parallel across days), reducing every day to one row:
  *     (net delta, in-day max prefix, earliest t attaining it);
  *  2. phase two windows over the per-day table — |days| rows, tiny by
  *     construction (a century is ~37k rows) — to accumulate each day's
  *     carry-in offset, then takes the global argmax.
  * An interval SPANNING a day boundary contributes +1 to its start
  * day's net delta, which reaches every later day through the carry —
  * the in-day prefix plus carry equals the true global prefix at every
  * row, so the two-phase max is exact. This is the same
  * two-phase-prefix-sum discipline as Corpus.packSequences /
  * q_shuffle_order: the only single-partition window runs on the
  * bucket-cardinality table.
  *
  * Output: one row — (max_concurrent BIGINT, at_ts STRING µs-formatted).
  */
object Intervals {

  /** @param bucket monotone non-decreasing time bucketing for phase 1
    *   (default: calendar day). Granularity is the MEMORY dial, and the
    *   unit that matters is the GROUP, not the task: WindowExec buffers
    *   each partition-key group (one bucket) in its row array before
    *   evaluating frames, so per-bucket delta rows decide spill
    *   (measured at the 100× probe: hour buckets ≈ 130k rows/group
    *   spilled 18 GB; minute buckets ≈ 2k rows/group spilled nothing).
    *   Size buckets to a few thousand rows; the phase-2 carry table is
    *   |buckets| rows and stays one task's work even at minute
    *   granularity over a decade (~5M rows). */
  def maxIntersections(df: DataFrame, start: Column, endCol: Column,
                       bucket: Column => Column = to_date(_)): DataFrame = {
    val deltas = df.select(start.as("t"), lit(1L).as("delta"))
      .unionAll(df.select(endCol.as("t"), lit(-1L).as("delta")))

    val day = bucket(col("t"))
    val inDay = Window.partitionBy(day).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = deltas.select(day.as("d"), col("t"), col("delta"),
      sum(col("delta")).over(inDay).as("run"))

    // one row per bucket: net delta, in-bucket peak, earliest t at the
    // peak — a single hash agg over the windowed rows. The lexicographic
    // max of (run, −t_µs) IS (peak, earliest-t-at-peak): no second
    // window pass over the full delta set (the first cut ran a
    // partitionBy-only max window here and re-sorted 2·|events| rows —
    // measured as pure spill at the 100× probe).
    val perDay = run.groupBy(col("d")).agg(
      sum(col("delta")).as("net"),
      max(struct(col("run"), (lit(0L) - unix_micros(col("t"))).as("negt"))).as("mx"))
      .select(col("d"), col("net"),
        col("mx.run").as("day_max"),
        timestamp_micros(lit(0L) - col("mx.negt")).as("day_max_t"))

    // carry-in = sum of PRECEDING days' nets; |days| rows, one partition
    val carry = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val adj = perDay.select(col("d"), col("day_max_t"),
      (coalesce(sum(col("net")).over(carry), lit(0L)) + col("day_max")).as("g"))

    // global peak + earliest instant in ONE aggregate over the carry
    // table: max of (g, −t_µs) is lexicographically (max g, min t among
    // rows attaining it) — the same struct-argmax trick as perDay. The
    // earlier self-join against adj.agg(max(g)) computed the whole
    // phase-1 pipeline twice.
    adj
      .agg(max(struct(col("g"),
        (lit(0L) - unix_micros(col("day_max_t"))).as("negt"))).as("mx"))
      // empty input: agg-without-groupBy yields one all-null row; drop
      // it so the contract stays "no intervals → no rows" (the earlier
      // self-join form's behavior)
      .where(col("mx").isNotNull)
      .select(col("mx.g").as("max_concurrent"),
        date_format(timestamp_micros(lit(0L) - col("mx.negt")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("at_ts"))
  }

  /** ClickHouse `intervalLengthSum` analog: per key, the total length of
    * the UNION of that key's (possibly overlapping) intervals, exact in
    * µs. Classic coverage sweep, relational form: order intervals by
    * (start, end) per key; each row contributes
    * `max(0, end − max(start, running-max-of-previous-ends))` — the part
    * of the interval not already covered (previous intervals all start
    * at or before this one, so their coverage beyond this start is the
    * contiguous [start, prev-max-end)) — and one hash agg sums the
    * contributions.
    *
    * HOT-KEY posture: the running max of previous ends is a
    * [[Prefix.running]] max over `bucket(start)` (monotone in start,
    * so bucket order refines the sweep order): no WindowExec group
    * exceeds one key's per-bucket rows.
    *
    * @param bucket monotone time bucketing of the START (default:
    *   calendar day); size it so one key's intervals per bucket stay
    *   in the thousands.
    * Output: (key k, covered_us BIGINT, n_intervals BIGINT). */
  def intervalLengthSum(df: DataFrame, key: Column, start: Column,
                        endCol: Column,
                        bucket: Column => Column = to_date(_)): DataFrame = {
    val base = df.select(key.as("k"), bucket(start).as("b"),
      unix_micros(start).as("s"), unix_micros(endCol).as("e"))
    // greatest() skips the null "no previous interval"
    Prefix.running(base, Seq("k"), "b", Seq(col("s"), col("e")),
        Seq("prev_e" -> col("e")), Prefix.Max, Prefix.ExclusiveRows)
      .select(col("k"),
        greatest(lit(0L), col("e") - greatest(col("s"), col("prev_e"))).as("add"))
      .groupBy(col("k"))
      .agg(sum(col("add")).as("covered_us"), count(lit(1)).as("n_intervals"))
  }

  /** DuckDB replica of [[intervalLengthSum]] over events keyed by
    * user_id with interval [ts, ts + value·1e6 µs). */
  val intervalLengthSumOracleSql: String =
    """WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s, epoch_us(ts + CAST(round(value*1000000,0) AS BIGINT) * INTERVAL 1 MICROSECOND) AS e FROM events),
r AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e FROM iv)
SELECT k, CAST(sum(greatest(0, e - greatest(s, coalesce(prev_max_e, s)))) AS BIGINT) AS covered_us, count(*) AS n_intervals FROM r GROUP BY 1"""

  /** DuckDB replica over `events` with interval [ts, ts + value·1e6 µs):
    * the oracle may use the straight global window — it IS the spec the
    * two-phase plan must reproduce. */
  val maxIntersectionsOracleSql: String =
    """WITH deltas AS (
  SELECT ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT ts + CAST(round(value*1000000,0) AS BIGINT) * INTERVAL 1 MICROSECOND AS t, -1 AS delta FROM events),
r AS (SELECT t, sum(delta) OVER (ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM deltas),
m AS (SELECT max(run) AS gmax FROM r)
SELECT CAST(gmax AS BIGINT) AS max_concurrent,
       strftime(min(t), '%Y-%m-%d %H:%M:%S.%f') AS at_ts
FROM r, m WHERE run = gmax GROUP BY gmax"""
}
