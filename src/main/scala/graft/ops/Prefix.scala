package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The two-phase running aggregate (SCALE.md's fifteenth and sixteenth
  * findings): a running SUM or MAX over a corpus-sized ordered axis,
  * computed without a global one-task window and without a per-key
  * window that a hot key could blow up.
  *
  * The axis is cut into monotone buckets. Phase one runs the window
  * per (keys, bucket), so WindowExec buffers one bucket's rows, not a
  * key's or the corpus's (the GROUP is the spill unit). Phase two
  * reduces each bucket to its total and runs a carry window over the
  * preceding buckets' totals, per key. Its input has |buckets| rows
  * per key, so the carry is the only window that may run in one
  * partition (unkeyed), and it is bucket-cardinality sized. The carry
  * joins back on (keys, bucket), and each row's value is its
  * in-bucket running value combined with its bucket's carry-in. The
  * combine is associative, so the result equals the single global
  * window `agg(value) OVER (PARTITION BY keys ORDER BY order frame)`
  * that the DuckDB oracles use as the spec.
  *
  * The choices below are made once, here:
  *  - '''One shared exchange, one sort.''' Rows are hash-repartitioned
  *    on (keys, bucket) explicitly. The in-bucket window reads that
  *    exchange, and the bucket totals are a hash aggregate over the
  *    same PRE-WINDOW rows, so the in-bucket sort and window run once.
  *    Spark reuses an exchange only between canonically equal
  *    subtrees, and column pruning narrows each consumer to the
  *    columns it reads: the totals to (keys, bucket, values), the
  *    window side to what the caller reads downstream. Two different
  *    exchanges would each rebuild the whole upstream chain (a corpus
  *    tokenization; a conversation parse, clean and render; a k-means
  *    assignment). So both consumers read every column of `df`: each
  *    row carries `h = hash(all of df's columns)`, each bucket's total
  *    carries `max(h)`, and the join back also requires `h <= max(h)`,
  *    which holds by construction. The two exchanges are then equal
  *    whatever the caller keeps, and AQE materializes one. PlanSpec
  *    pins the reuse (q_pack_sequences, q_conv_pack, q_proto_prune)
  *    and the single in-bucket window (q_weighted_quantile). The cost
  *    is one hash per row, so keep `df` to the columns the caller
  *    needs; `df` holds no map column (`hash` rejects maps).
  *  - '''Bucket totals.''' `agg(value)` per (keys, bucket): exact for
  *    any values and any frame (a max of the running value would miss
  *    negative values and the ties of a RANGE frame).
  *  - '''Nulls.''' Rows with a null key or bucket are dropped; the
  *    explicit filter also matches the filter the inner join infers, so
  *    the optimizer cannot push it below only one branch's exchange.
  *    Null values are skipped as SQL aggregates skip them. A [[Sum]]
  *    with nothing before it is 0 (`coalesce(…, 0)`); a [[Max]] with
  *    nothing before it is null ("none").
  *  - '''Carry join.''' Always [[Joins.corpusSide]] (sort-merge). The
  *    carry table has one row per non-empty (key, bucket), corpus-
  *    derived in general, so it never broadcasts; the big side is
  *    already partitioned and sorted on (keys, bucket), so the join
  *    shuffles and sorts the carry only. Carries with a fixed bound
  *    (4096 hash buckets in `Selection.shuffleOrder`, ≈ 201 cosine
  *    buckets per cluster in `Ann.protoPrune`) sort-merge too: one
  *    policy, at the cost of one carry-sized shuffle. Every non-empty
  *    bucket has a carry row, so a bucket whose own values are all
  *    null still receives the carry.
  *
  * The bucket must be non-decreasing along `order` within a key (for
  * [[ExclusiveRange]], a function of the one order column, so ties
  * share a bucket). Size it so one key's rows per bucket stay in the
  * thousands: WindowExec buffers each bucket before evaluating frames
  * (measured at the 100× probe on the concurrency sweep: hour buckets
  * of ≈ 130k rows spilled 18 GB, minute buckets of ≈ 2k rows spilled
  * nothing), and the carry window buffers one key's buckets.
  *
  * @param keys   partition columns of the running aggregate (may be
  *               empty: one global running value)
  * @param bucket name of a column of `df` holding the bucket
  * @param order  the within-key order; rows frames need a total order
  *               for a deterministic result
  * @param values output name → value expression; each output column
  *               holds the running aggregate of its value, and
  *               `<name>_total` holds the aggregate over the row's
  *               whole key (read from the carry table, so a per-key
  *               total costs no pass over the rows)
  * @return `df`'s columns (rows with a null key or bucket dropped) plus
  *         the running and total columns of each value */
object Prefix {

  sealed abstract class Agg(private[Prefix] val over: Column => Column,
      private[Prefix] val combine: (Column, Column) => Column)
  /** Running sum; nothing before is 0. */
  case object Sum extends Agg(sum,
    (a, b) => coalesce(a, lit(0L)) + coalesce(b, lit(0L)))
  /** Running max; nothing before is null. */
  case object Max extends Agg(max, greatest(_, _))

  sealed abstract class Frame(private[Prefix] val of: WindowSpec => WindowSpec)
  /** Rows up to and including the current one. */
  case object InclusiveRows extends Frame(
    _.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  /** Rows strictly before the current one. */
  case object ExclusiveRows extends Frame(
    _.rowsBetween(Window.unboundedPreceding, -1))
  /** Rows whose order value is strictly below the current one (one
    * numeric order column; ties are not "before"). */
  case object ExclusiveRange extends Frame(
    _.rangeBetween(Window.unboundedPreceding, -1))

  def running(df: DataFrame, keys: Seq[String], bucket: String,
      order: Seq[Column], values: Seq[(String, Column)], agg: Agg,
      frame: Frame): DataFrame = {
    val parts = (keys :+ bucket).map(col)
    def in(n: String) = col(s"__pfx_in_$n")
    def tot(n: String) = col(s"__pfx_tot_$n")
    val h = hash(df.columns.map(col): _*)
    val rows = df.where(parts.map(_.isNotNull).reduce(_ && _))
      .repartition(parts: _*)
    val inBucket = Window.partitionBy(parts: _*).orderBy(order: _*)
    val withIn = rows.select(col("*") +: h.as("__pfx_h") +: values.map { case (n, v) =>
      agg.over(v).over(frame.of(inBucket)).as(s"__pfx_in_$n") }: _*)
    val totals = rows.groupBy(parts: _*).agg(max(h).as("__pfx_max_h"),
      values.map { case (n, v) => agg.over(v).as(s"__pfx_tot_$n") }: _*)
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(bucket))
    val before = byKey.rowsBetween(Window.unboundedPreceding, -1)
    val whole = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val carries = totals.select((keys :+ bucket).map(k => col(k).as(s"__pfx_at_$k")) ++
      Seq(col("__pfx_max_h")) ++ values.flatMap { case (n, _) => Seq(
        agg.over(tot(n)).over(before).as(s"__pfx_carry_$n"),
        agg.over(tot(n)).over(whole).as(s"${n}_total")) }: _*)
    val on = (keys :+ bucket).map(k => col(k) === col(s"__pfx_at_$k")).reduce(_ && _)
    withIn.join(Joins.corpusSide(carries), on && col("__pfx_h") <= col("__pfx_max_h"))
      .select(df.columns.map(col) ++ values.flatMap { case (n, _) => Seq(
        agg.combine(in(n), col(s"__pfx_carry_$n")).as(n), col(s"${n}_total")) }: _*)
  }
}
