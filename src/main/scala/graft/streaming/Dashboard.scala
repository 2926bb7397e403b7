package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TimeSeries
import graft.sinks.SummingStore

/** Real-time dashboard serving for the gap-fill / moving-agg surface —
  * the streaming twin of the batch `WITH FILL … INTERPOLATE` +
  * `groupArrayMovingSum` composition (q_dashboard_series), matching
  * the reference's serving posture where dashboards read continuously-
  * maintained aggregates, never the event stream
  * (/root/reference/src/main/java/com/cdcstream/
  * EnhancedEngagementStreamingJob.java:383-447 keeps Redis aggregates
  * hot per batch; /root/reference/sql/clickhouse-init.sql:26-38 is the
  * MV the dashboards scan).
  *
  * Shape — foreachBatch over a SummingStore MV:
  *  - [[dailySumSink]] partial-aggregates EACH MICRO-BATCH to
  *    per-(key, day) µ-unit sums and lands them as one additive part,
  *    idempotent by batch id (a foreachBatch retry re-offers the same
  *    batchId; the tag probe makes the duplicate a no-op — the same
  *    exactly-once discipline as Warehouse.appendOnce). Per batch the
  *    part is |keys active in the batch × days touched| rows — the MV
  *    grows with the aggregate's cardinality, never the stream's.
  *  - [[gapFillSeries]] / [[movingSeries]] serve reads: one
  *    merge-on-read re-sum of the parts (MV-cardinality), then the
  *    SAME fill / moving-frame operators the batch path uses
  *    ([[TimeSeries.gapFillDailyFromObs]] /
  *    [[TimeSeries.movingAggFromDaily]]) — batch/stream parity is
  *    structural, not re-implemented, and StreamingSpec asserts it on
  *    live micro-batches.
  *
  * 100 TB posture: the incremental path touches each event exactly
  * once (the in-batch hash agg); everything downstream is sized by
  * keys × active-days. Compaction ([[SummingStore.compact]]) bounds
  * the part count independently of stream lifetime.
  */
object Dashboard {

  /** foreachBatch sink: land one micro-batch's per-(key, day) sums as
    * an additive SummingStore part, idempotent by `batchId`. */
  def dailySumSink(key: Column, ts: Column, valueMicros: Column,
      mvPath: String): (DataFrame, Long) => Unit = (batch, batchId) => {
    val part = batch.groupBy(key.as("k"), to_date(ts).as("d"))
      .agg(sum(valueMicros).as("v"))
    SummingStore.appendDelta(part, mvPath, tag = Some(s"dash-b$batchId"))
  }

  /** Merged per-(key, day) observation table from the MV parts —
    * MV-cardinality input for the serving reads. None before the
    * first part lands. */
  def dailyObs(spark: SparkSession, mvPath: String): Option[DataFrame] =
    SummingStore.read(spark, mvPath, keys = Seq("k", "d"), addCols = Seq("v"))

  /** Serving read: densified + interpolated daily series over the
    * incrementally-maintained sums — same output contract as the batch
    * [[TimeSeries.gapFillDaily]]. */
  def gapFillSeries(spark: SparkSession, mvPath: String): Option[DataFrame] =
    dailyObs(spark, mvPath).map(TimeSeries.gapFillDailyFromObs)

  /** Serving read: moving sum / count / average over the
    * incrementally-maintained daily sums — same output contract as the
    * batch [[TimeSeries.movingAgg]]. */
  def movingSeries(spark: SparkSession, mvPath: String,
      frame: Int): Option[DataFrame] =
    dailyObs(spark, mvPath)
      .map(o => TimeSeries.movingAggFromDaily(
        o.withColumnRenamed("v", "day_sum"), frame))

  /** foreachBatch sink for a live quantile dashboard: land each
    * micro-batch's [[graft.ops.Sketches.quantileSketch]] counts as one
    * additive part, idempotent by batch id. The sketch's grid is FIXED
    * (never data- or merge-order-dependent), so the incrementally
    * merged state is bit-identical to a one-shot build over the whole
    * stream — streaming quantiles with ≤1.9k rows of MV state. */
  def quantileSketchSink(v: Column, mvPath: String,
      m: Int = 5): (DataFrame, Long) => Unit = (batch, batchId) =>
    SummingStore.appendDelta(graft.ops.Sketches.quantileSketch(batch, v, m), mvPath,
      tag = Some(s"qsk-b$batchId"))

  /** Serving read: quantile estimates over the incrementally-
    * maintained sketch — same output contract as the batch
    * [[graft.ops.Sketches.sketchQuantiles]]. */
  def servedQuantiles(spark: SparkSession, mvPath: String,
      qs: Seq[(Int, Int)], m: Int = 5): Option[DataFrame] =
    SummingStore.read(spark, mvPath, keys = Seq("idx"), addCols = Seq("cnt"))
      .map(sk => graft.ops.Sketches.sketchQuantiles(sk, qs, m))

  /** foreachBatch sink for the SEASONALITY surface: land each
    * micro-batch's per-(key, bucket) µ-sums ([[graft.ops.Seasonal
    * .obs]]) as one additive part, idempotent by batch id. Sums are
    * associative, so the merged MV equals the one-shot aggregation of
    * the whole stream regardless of batch boundaries. */
  def bucketSumSink(key: Column, ts: Column, valueMicros: Column,
      bucketUs: Long, mvPath: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      SummingStore.appendDelta(
        graft.ops.Seasonal.obs(batch, key, ts, valueMicros, bucketUs), mvPath,
        tag = Some(s"seas-b$batchId"))

  /** Merged + zero-filled series from the seasonality MV. */
  private def servedSeries(spark: SparkSession,
      mvPath: String): Option[DataFrame] =
    SummingStore.read(spark, mvPath, keys = Seq("k", "b"),
        addCols = Seq("v"))
      .map(graft.ops.Seasonal.zeroFill)

  /** Serving read: STL decomposition over the incrementally-
    * maintained bucket sums — same output contract as the batch
    * [[graft.ops.Seasonal.stlDecompose]]. */
  def servedStl(spark: SparkSession, mvPath: String,
      period: Int): Option[DataFrame] =
    servedSeries(spark, mvPath)
      .map(graft.ops.Seasonal.stlDecomposeFromSeries(_, period))

  /** Serving read: dominant period over the incrementally-maintained
    * bucket sums — same output contract as the batch
    * [[graft.ops.Seasonal.periodDetect]]. */
  def servedPeriod(spark: SparkSession, mvPath: String,
      maxLag: Int): Option[DataFrame] =
    servedSeries(spark, mvPath)
      .map(graft.ops.Seasonal.periodDetectFromSeries(_, maxLag))

  /** Serving read: live seasonal-naive backtest (MAE/sMAPE per key)
    * over the incrementally-maintained bucket sums — same output
    * contract as the batch [[graft.ops.Seasonal.seasonalNaiveEval]]. */
  def servedForecastEval(spark: SparkSession, mvPath: String,
      period: Int): Option[DataFrame] =
    servedSeries(spark, mvPath)
      .map(graft.ops.Seasonal.seasonalNaiveEvalFromSeries(_, period))

  /** foreachBatch sink for a LIVE statistics dashboard: land each
    * micro-batch's per-group ANOVA partials (n, Σv, Σv² in exact
    * decimals — [[graft.ops.Stats.anovaPartials]]) as one additive
    * part, idempotent by batch id. The same decomposed-partials
    * argument serves the whole additive stats tier (z-test, linreg,
    * corrMatrix — see q_corr_matrix_inc); ANOVA is the registered
    * live twin. Per batch the part is |groups active in the batch|
    * rows — the MV grows with group cardinality, never the stream. */
  def anovaPartialsSink(v: Column, group: Column,
      mvPath: String): (DataFrame, Long) => Unit = (batch, batchId) =>
    SummingStore.appendDelta(
      graft.ops.Stats.anovaPartials(batch, v, group), mvPath,
      tag = Some(s"anova-b$batchId"))

  /** Serving read: the F readout over the merged per-group partials —
    * same scalar path ([[graft.ops.Stats.anovaFromPartials]]) and
    * output contract as the batch [[graft.ops.Stats.anovaF]], so
    * batch/stream parity is structural. None before the first part. */
  def servedAnova(spark: SparkSession, mvPath: String): Option[DataFrame] =
    SummingStore.read(spark, mvPath, keys = Seq("g"),
        addCols = Seq("ng", "s1g", "s2g"))
      .map(graft.ops.Stats.anovaFromPartials)
}
