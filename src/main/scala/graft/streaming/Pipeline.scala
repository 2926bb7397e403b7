package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.Envelope
import graft.dim.ContentDim
import graft.enrich.Enrich
import graft.ops.Rollups

/** Structured-Streaming wiring of the reference's job graph (SURVEY.md
  * §3.1–§3.2): CDC sources → unwrap → dim-snapshot lookup →
  * derived columns → fan-out aggregations/sinks.
  *
  * Streaming semantics ported (SURVEY §2.8):
  *  - ST1: 30 s watermark on the engagement stream only;
  *  - ST2: tumbling 1 h (warehouse rollup) and 1 min (top-k) windows;
  *  - ST3: TTL'd serving state via mapGroupsWithState processing-time
  *         timeouts (Redis SETEX/expire analog);
  *  - ST4: the enrichment path itself is unwatermarked — arbitrarily
  *         late events still enrich and land, as in the reference; only
  *         windowed aggregates bound their state with the watermark;
  *  - ST5: checkpointed exactly-once state + at-least-once sinks, with
  *         dedupStream/LWW dedup absorbing sink replays.
  */
object Pipeline {

  val WatermarkDelay = "30 seconds"

  /** Engagement hot path: raw Kafka-shaped stream (string `value`) →
    * unwrap → enrich against the dim snapshot at `dimPath`.
    *
    * PINNED-SNAPSHOT semantics: [[graft.enrich.Enrich.enrich]]'s hash
    * table is built once, when the stream is defined, from the cached
    * rows of the dim version that was live then (so no batch runs a job
    * for the dim or touches the snapshot files) — later upserts/deletes
    * from dimMaintenanceQuery are NOT picked up. That is safe but
    * stale; for a MUTABLE dim use [[enrichedSink]], which re-resolves
    * the snapshot pointer inside every micro-batch. */
  def enrichedStream(spark: SparkSession, raw: DataFrame, dimPath: String): DataFrame = {
    // fail fast rather than silently pinning an EMPTY dim for the
    // stream's whole lifetime: with no snapshot committed yet, every
    // future batch would emit null enrichment forever with no error
    val dim = ContentDim.read(spark, dimPath).getOrElse(
      throw new IllegalStateException(
        s"no dim snapshot committed at $dimPath — seed the dimension before " +
        "starting a pinned-snapshot stream, or use enrichedSink for a mutable dim"))
    Enrich.enrich(Envelope.unwrapEngagement(raw), dim)
  }

  /** Content dim maintenance: raw content CDC stream → foreachBatch
    * merge into the parquet snapshot (upsert + delete; an empty batch
    * commits nothing). */
  def dimMaintenanceQuery(spark: SparkSession, raw: DataFrame, dimPath: String,
      checkpoint: String) = {
    val changes = Envelope.unwrapContent(raw)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ContentDim.applyBatch(spark, dimPath, batch)
      }
  }

  /** Engagement hot path against a MUTABLE dim: per micro-batch, resolve
    * the live snapshot's cached rows and enrich the batch from them with
    * [[graft.enrich.Enrich.enrich]] (a hash table built on the driver
    * without a job, the same lookup the batch query runs) —
    * upserts/deletes applied by dimMaintenanceQuery take effect from the
    * next batch, matching the reference's broadcast-state granularity
    * (§3.2 note: per-batch replaces per-record; steady state agrees). */
  def enrichedSink(raw: DataFrame, dimPath: String, checkpoint: String)(
      write: (DataFrame, Long) => Unit) =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // resolve the snapshot POINTER inside the batch: each batch
        // looks up the dim version live at batch start (atomic via
        // SnapshotStore — never a half-replaced snapshot)
        val dim = ContentDim.snapshot(batch.sparkSession, dimPath)
        write(Enrich.enrich(Envelope.unwrapEngagement(batch), dim), id)
      }

  /** A1: hourly warehouse rollup (append mode once the watermark
    * passes; generous-watermark divergence documented in SURVEY ST4). */
  def hourlyRollup(enriched: DataFrame): DataFrame =
    enriched
      .withWatermark("event_ts", WatermarkDelay)
      .groupBy(window(col("event_ts"), "1 hour"),
        col("content_type"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Rollups.decSum(col("engagement_score")).as("score_sum"))
      .select(col("window.start").as("hour_ts"), col("content_type"),
        col("event_type"), col("cnt"), col("score_sum"))

  /** A5: per-minute score sums per content (top-k read side ranks). */
  def minuteScores(enriched: DataFrame): DataFrame =
    enriched
      .withWatermark("event_ts", WatermarkDelay)
      .groupBy(window(col("event_ts"), "1 minute"), col("content_id"))
      .agg(Rollups.decSum(col("engagement_score")).as("score_sum"))
      .select(date_format(col("window.start"), "yyyyMMddHHmm").as("minute_bucket"),
        col("content_id"), col("score_sum"))

  /** A5 read side: per micro-batch, rank the minute buckets and keep
    * top-k per minute — the ZREVRANGE consumer re-expressed as a
    * foreachBatch over the update-mode aggregate (the aggregate state
    * stays in the engine; only k rows per minute leave it). */
  def minuteTopKSink(enriched: DataFrame, k: Int, checkpoint: String)(
      write: DataFrame => Unit) =
    minuteScores(enriched).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("minute_bucket"))
          .orderBy(col("score_sum").desc, col("content_id").asc)
        write(batch.withColumn("rk", row_number().over(w)).filter(col("rk") <= k))
      }

  /** A3/A4: running per-(user, content) score sums — update-mode
    * stateful aggregation (Redis ZINCRBY analog). */
  def runningUserContentScores(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("user_id"), col("content_id"))
      .agg(Rollups.decSum(col("engagement_score")).as("score_sum"),
        count(lit(1)).as("events"))

  /** A6: per-event-type counters, update mode. */
  def eventTypeCounters(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("event_type")).count()

  /** A2/ST5: absorb at-least-once duplicate deliveries in-stream.
    * State is bounded by the watermark (ReplacingMergeTree analog). */
  def dedupStream(unwrapped: DataFrame): DataFrame =
    unwrapped.withWatermark("event_ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- ST3: TTL'd last-event-per-key state (Redis SETEX analog) ---------

  case class LastEventKey(userId: String, contentId: String)
  case class LastEventState(json: String, eventTsMicros: Long, expiresAtMs: Long)
  case class LastEventOut(userId: String, contentId: String, json: String,
      eventTsMicros: Long, expired: Boolean)

  /** A7 with exact TTL semantics: keep the latest event per
    * (user, content); evict state `ttlMs` after the last update,
    * emitting a tombstone row on expiry. mapGroupsWithState is the
    * stock API for this (SURVEY §7.3).
    *
    * `eventTimeTTL = true` expires by watermark (deterministic,
    * replay/backfill-safe — the right choice for a reprocessable
    * pipeline; requires a withWatermark upstream). `false` matches
    * Redis's wall-clock SETEX exactly via processing-time timers —
    * note those force the engine to run empty micro-batches to fire,
    * so pair with a trigger interval in production. */
  def lastEventWithTTL(enriched: DataFrame, ttlMs: Long,
      eventTimeTTL: Boolean = false,
      watermarkDelay: String = WatermarkDelay): Dataset[LastEventOut] = {
    val spark = enriched.sparkSession
    import spark.implicits._
    val projected = enriched
      .select(col("user_id"), col("content_id"),
        to_json(struct(enriched.columns.map(col): _*)).as("json"),
        unix_micros(col("event_ts")).as("event_ts_micros"),
        col("event_ts"))
    // the event-time-timeout check wants the watermark on this operator's
    // direct input, so it is (re)applied after the projection
    val watermarked =
      if (eventTimeTTL) projected.withWatermark("event_ts", watermarkDelay)
      else projected
    val keyed = watermarked
      .as[(String, String, String, Long, java.sql.Timestamp)]
      .groupByKey { case (u, c, _, _, _) => LastEventKey(u, c) }

    val timeoutConf =
      if (eventTimeTTL) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.ProcessingTimeTimeout

    keyed.mapGroupsWithState[LastEventState, LastEventOut](timeoutConf) {
      case (key, rows, state) =>
        if (state.hasTimedOut) {
          val out = LastEventOut(key.userId, key.contentId, null, 0L, expired = true)
          state.remove()
          out
        } else {
          val latest = rows.maxBy(_._4)
          val prevTs = state.getOption.map(_.eventTsMicros).getOrElse(Long.MinValue)
          val next =
            if (latest._4 >= prevTs)
              LastEventState(latest._3, latest._4, 0L)
            else state.get
          state.update(next)
          if (eventTimeTTL) {
            // timer must sit strictly past the current watermark
            val target = math.max(next.eventTsMicros / 1000L + ttlMs,
              state.getCurrentWatermarkMs() + 1L)
            state.setTimeoutTimestamp(target)
          } else state.setTimeoutDuration(ttlMs)
          LastEventOut(key.userId, key.contentId, next.json, next.eventTsMicros,
            expired = false)
        }
    }
  }

  case class FunnelState(t1: Long, t2: Long, t3: Long, broken: Boolean)
  case class FunnelUpdate(userId: Long, level: Int)

  /** Incremental streaming funnel: the real-time counterpart of the
    * batch windowFunnel (graft.ops.Funnel), with its `strictOrder` /
    * `strictDedup` flags — per-user level tracked in mapGroupsWithState
    * and re-emitted on every update. Semantics match the batch chain
    * for in-order arrival: t1 = first step-1 event; t_k = first step-k
    * event after t_{k-1} and within `windowMicros` of t1. Rows fold in
    * timestamp groups, in ts order, so batch contents never depend on
    * shuffle arrival order; at most one step advances per group, since
    * step k needs ts > t_{k-1}. Cross-batch LATE steps cannot retro-fill
    * an earlier slot (state only moves forward) — the same
    * accept-late-divergence class as ST4, documented rather than
    * hidden. State: three longs + a flag per user.
    *
    * Strict modes break the chain for good: `strictOrder` on any event
    * other than the next step, `strictDedup` on a repeat of an already
    * matched step (strictOrder wins if both are set, as in the batch
    * form). They need the FULL event stream, with step 0 marking an
    * event that matches no condition. Within one timestamp the advance
    * applies BEFORE breaker evaluation, and an advance at ts suppresses
    * same-ts breakers — the batch rule that a candidate tied with its
    * breaker survives (equal timestamps carry no order). With both
    * flags off nothing breaks.
    *
    * Input columns: user_id (long), event_ts (timestamp), step (int:
    * 1-based, 0 = no step). */
  def streamingFunnel(events: DataFrame, windowMicros: Long,
      strictOrder: Boolean = false, strictDedup: Boolean = false): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val Unset = Long.MinValue
    events.select(col("user_id").cast("long"),
        unix_micros(col("event_ts")).as("ts_us"), col("step").cast("int"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var st = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset, broken = false))
          def level = Seq(st.t1, st.t2, st.t3).takeWhile(_ != Unset).size
          def tPrev = level match {
            case 1 => st.t1; case 2 => st.t2; case _ => Unset
          }
          def breaks(step: Int, expected: Int): Boolean =
            if (strictOrder) step != expected
            else strictDedup && step >= 1 && step < expected
          rows.toSeq.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (ts, evs) =>
            if (!st.broken && level < 3) {
              val expected = level + 1
              val advanced =
                if (level == 0)
                  evs.exists(_._3 == 1) && { st = st.copy(t1 = ts); true }
                else
                  evs.exists(_._3 == expected) && ts > tPrev &&
                    ts <= st.t1 + windowMicros && {
                      st = if (expected == 2) st.copy(t2 = ts)
                           else st.copy(t3 = ts)
                      true
                    }
              // breaker evaluation with the PRE-advance stage; an
              // advance at this ts suppresses same-ts breakers (tie)
              if (!advanced && level > 0 && ts > tPrev &&
                  evs.exists(e => breaks(e._3, expected)))
                st = st.copy(broken = true)
            }
          }
          state.update(st)
          FunnelUpdate(user, level)
      }
  }

  case class SeqCountState(availA: Long, matches: Long)
  case class SeqCountUpdate(userId: Long, matches: Long)

  /** Incremental streaming sequence count: the real-time counterpart of
    * the batch prefix-deficit form (TimeSeries.sequenceCountPairs). The
    * greedy A→B matcher is a one-counter state machine — `availA`
    * unconsumed A's, consume one per B — so per-user state is O(1)
    * (three longs) no matter how hot the user, the streaming analog of
    * the batch operator's bounded bucket groups. Rows within a batch
    * process in (ts, tiebreak) order; cross-batch late events fold in
    * at arrival order (the ST4 accept-late-divergence class, same as
    * the streaming funnel — documented, not hidden). Emits the running
    * match count per user on every update.
    *
    * Input columns: user_id (long), event_ts (timestamp), tiebreak
    * (long), is_b (boolean: condB; condA otherwise — pre-filter to the
    * A/B subset). */
  def streamingSequenceCount(events: DataFrame): Dataset[SeqCountUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"),
        unix_micros(col("event_ts")).as("ts_us"),
        col("tiebreak").cast("long"), col("is_b"))
      .as[(Long, Long, Long, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState[SeqCountState, SeqCountUpdate](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var st = state.getOption.getOrElse(SeqCountState(0L, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, isB) =>
            if (isB) {
              if (st.availA > 0)
                st = st.copy(availA = st.availA - 1, matches = st.matches + 1)
            } else st = st.copy(availA = st.availA + 1)
          }
          state.update(st)
          SeqCountUpdate(user, st.matches)
      }
  }

  /** Watermarked STREAM-STREAM interval join: click→purchase
    * attribution. Emits one row per (click, purchase) pair of the same
    * user with the purchase inside [click_ts, click_ts + maxDelay].
    *
    * Both inputs must carry a `ts` event-time column plus (`event_id`,
    * `user_id`). Both sides are watermarked AND the join condition
    * bounds each side's event time against the other, which is what
    * lets Spark evict join state: a click is droppable once the
    * purchase-side watermark passes click_ts + maxDelay, a purchase
    * once the click-side watermark passes purchase_ts. Without the
    * two-sided time bound, one state store grows with the whole
    * stream's history — the unbounded-state failure a 100 TB/day
    * stream cannot absorb. State is keyed by user_id (the equi key),
    * so it shuffles once and scales horizontally with executors.
    *
    * `joinType` "leftOuter" additionally emits unmatched clicks
    * (null purchase columns) — but only after the watermark proves no
    * purchase can still arrive, so "unconverted click" is a correct,
    * late-data-safe verdict, not a premature one.
    *
    * Batch twin: q_attribution_join (identical predicate, DuckDB
    * oracle); StreamingSpec asserts batch/stream row parity and
    * post-watermark outer emission. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      maxDelay: String = "1 hour", joinType: String = "inner",
      watermark: String = WatermarkDelay): DataFrame = {
    val c = clicks.withWatermark("ts", watermark).alias("c")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    c.join(p,
        expr(s"c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + interval $maxDelay"),
        joinType)
      .select(col("c.event_id").as("click_id"), col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"),
        col("p.event_id").as("purchase_id"), col("p.ts").as("purchase_ts"))
  }

  /** K1: warehouse append sink as foreachBatch (JDBC/parquet target
    * injected by the caller; micro-batch = natural insert batching). */
  def warehouseSink(enriched: DataFrame, checkpoint: String)(
      write: (DataFrame, Long) => Unit) =
    enriched.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (df: DataFrame, id: Long) => write(df, id) }
}
