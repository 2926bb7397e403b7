package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.dim.ContentDim
import graft.streaming.Pipeline

/** Structured-Streaming semantics tests (SURVEY §2.8, §3.1–3.2) driven
  * by MemoryStream fixtures: dim maintenance with deletes, as-of
  * enrichment, watermarked hourly rollup, in-stream dedup, TTL state. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = tmpDir(prefix)

  private def contentUpsert(id: String, ctype: String, len: Int, seq: Long) =
    s"""{"payload":{"after":{"id":"$id","slug":"s-$id","title":"T $id","content_type":"$ctype","length_seconds":$len,"publish_ts":"2024-01-01T00:00:00"},"op":"u","ts_ms":$seq}}"""
  private def contentDelete(id: String, seq: Long) =
    s"""{"payload":{"before":{"id":"$id"},"after":null,"op":"d","ts_ms":$seq}}"""
  private def engEvent(id: Long, contentId: String, et: String, ts: String,
      durMs: java.lang.Long) = {
    val dur = Option(durMs).map(d => s""","duration_ms":$d""").getOrElse("")
    s"""{"payload":{"after":{"id":"$id","content_id":"$contentId","user_id":"u$id","event_type":"$et","event_ts":"$ts"$dur,"device":"web"},"op":"c","ts_ms":$id}}"""
  }

  test("dim maintenance + as-of enrichment: upsert enriches next batch, delete stops it") {
    val dimPath = tmp("dim") + "/snapshot"
    val contentIn = MemoryStream[String](spark)
    val engIn = MemoryStream[String](spark)

    val dimQ = Pipeline.dimMaintenanceQuery(spark, contentIn.toDF(), dimPath, tmp("ckp-dim")).start()
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val engQ = Pipeline.enrichedSink(engIn.toDF(), dimPath, tmp("ckp-eng")) { (df, _) =>
      out ++= df.select(col("event_id"), col("content_type"), col("engagement_score").cast("string"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).orNull, r.getString(2)))
    }.start()

    try {
      // event before its content exists → not enriched (no retro-enrichment)
      engIn.addData(engEvent(1, "c1", "play", "2024-01-01T10:00:00", 45000L))
      engQ.processAllAvailable()
      assert(out.toList === List((1L, null, "2.5")))

      // upsert c1, then the same-content event enriches
      contentIn.addData(contentUpsert("c1", "podcast", 300, 1))
      dimQ.processAllAvailable()
      engIn.addData(engEvent(2, "c1", "play", "2024-01-01T10:01:00", 45000L))
      engQ.processAllAvailable()
      assert(out.toList.contains((2L, "podcast", "2.5")))

      // delete c1 → subsequent events no longer enriched
      contentIn.addData(contentDelete("c1", 2))
      dimQ.processAllAvailable()
      engIn.addData(engEvent(3, "c1", "click", "2024-01-01T10:02:00", null))
      engQ.processAllAvailable()
      assert(out.toList.contains((3L, null, "0.2")))
    } finally { dimQ.stop(); engQ.stop() }
  }

  test("hourly rollup: windowed agg emits after watermark passes") {
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
      .withColumn("content_type", lit("podcast"))
      .withColumn("engagement_score",
        graft.functions.Engagement.engagementScore(col("event_type"), col("duration_ms")))
    val q = Pipeline.hourlyRollup(enriched)
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        engEvent(1, "c1", "play", "2024-01-01T10:10:00", 45000L),
        engEvent(2, "c1", "play", "2024-01-01T10:20:00", 45000L),
        engEvent(3, "c1", "finish", "2024-01-01T10:30:00", 1800000L))
      q.processAllAvailable()
      // advance watermark past 11:00 + 30s → 10:00 window closes
      in.addData(engEvent(9, "c1", "click", "2024-01-01T11:00:31", null))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT cnt, score_sum FROM rollup_out WHERE event_type IN ('play','finish')")
        .collect()
      val byType = spark.sql("SELECT event_type, cnt, score_sum FROM rollup_out").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(byType("play") === ((2L, 5.0)))    // 2 × capped 2.5
      assert(byType("finish") === ((1L, 7.5)))  // capped 3.0 × 2.5
    } finally { q.stop() }
  }

  test("in-stream dedup absorbs duplicate delivery within the watermark") {
    val in = MemoryStream[String](spark)
    val q = Pipeline.dedupStream(graft.cdc.Envelope.unwrapEngagement(in.toDF()))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      val e = engEvent(7, "c1", "play", "2024-01-01T10:00:00", 1000L)
      in.addData(e, e) // duplicate in same batch
      q.processAllAvailable()
      in.addData(e)    // replay in a later batch
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM dedup_out").count() === 1)
    } finally { q.stop() }
  }

  test("update-mode running scores and counters accumulate across batches") {
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
      .withColumn("engagement_score",
        graft.functions.Engagement.engagementScore(col("event_type"), col("duration_ms")))
    val scoresQ = Pipeline.runningUserContentScores(enriched)
      .writeStream.format("memory").queryName("scores_out")
      .outputMode(OutputMode.Update).start()
    val countersQ = Pipeline.eventTypeCounters(enriched)
      .writeStream.format("memory").queryName("counters_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(engEvent(1, "c1", "play", "2024-01-01T10:00:00", 45000L))
      scoresQ.processAllAvailable(); countersQ.processAllAvailable()
      in.addData(engEvent(1, "c1", "play", "2024-01-01T10:01:00", 45000L))
      scoresQ.processAllAvailable(); countersQ.processAllAvailable()
      // update mode re-emits the key each batch; latest emission wins
      val latest = spark.sql(
        "SELECT score_sum, events FROM scores_out ORDER BY events DESC LIMIT 1").head
      assert(latest.getDouble(0) === 5.0 && latest.getLong(1) === 2L)
      val cnt = spark.sql(
        "SELECT count FROM counters_out ORDER BY count DESC LIMIT 1").head.getLong(0)
      assert(cnt === 2L)
    } finally { scoresQ.stop(); countersQ.stop() }
  }

  test("streaming funnel advances levels across batches, ignores out-of-order steps") {
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, Int)](spark)
    val q = Pipeline.streamingFunnel(
        in.toDF().toDF("user_id", "event_ts", "step"),
        windowMicros = 3600L * 1000000L) // 1 hour
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def levels: Map[Long, Int] =
      spark.sql("SELECT userId, level FROM funnel_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._1)
        .map { case (u, vs) => u -> vs.map(_._2).max } // latest = max here
    try {
      // u1 walks the funnel across three batches; u2's purchase arrives
      // before any click so it must NOT advance past level 1
      in.addData((1L, ts("2024-01-01 00:00:00"), 1), (2L, ts("2024-01-01 00:00:00"), 1))
      q.processAllAvailable()
      assert(levels === Map(1L -> 1, 2L -> 1))
      in.addData((1L, ts("2024-01-01 00:10:00"), 2), (2L, ts("2024-01-01 00:05:00"), 3))
      q.processAllAvailable()
      assert(levels === Map(1L -> 2, 2L -> 1))
      in.addData((1L, ts("2024-01-01 00:20:00"), 3))
      q.processAllAvailable()
      assert(levels === Map(1L -> 3, 2L -> 1))
      // a step-2 event outside u2's window does not advance it
      in.addData((2L, ts("2024-01-01 02:00:00"), 2))
      q.processAllAvailable()
      assert(levels === Map(1L -> 3, 2L -> 1))
    } finally { q.stop() }
  }

  test("streaming sequence count matches the batch operator on the same events") {
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Boolean)](spark)
    val q = Pipeline.streamingSequenceCount(
        in.toDF().toDF("user_id", "event_ts", "tiebreak", "is_b"))
      .writeStream.format("memory").queryName("seqcount_out")
      .outputMode(OutputMode.Update).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def matches: Map[Long, Long] =
      spark.sql("SELECT userId, matches FROM seqcount_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (u, vs) => u -> vs.map(_._2).max } // monotone counter
    // u1: B A B | B A B (across batches) — greedy scan yields 2
    // u2: A A | B B — both B's consume the banked A's → 2
    val batch1 = Seq((1L, ts("2024-01-01 00:00:00"), 0L, true),
      (1L, ts("2024-01-01 00:01:00"), 1L, false),
      (1L, ts("2024-01-01 00:02:00"), 2L, true),
      (2L, ts("2024-01-01 00:00:00"), 3L, false),
      (2L, ts("2024-01-01 00:01:00"), 4L, false))
    val batch2 = Seq((1L, ts("2024-01-01 00:03:00"), 5L, true),
      (1L, ts("2024-01-01 00:04:00"), 6L, false),
      (1L, ts("2024-01-01 00:05:00"), 7L, true),
      (2L, ts("2024-01-01 00:02:00"), 8L, true),
      (2L, ts("2024-01-01 00:03:00"), 9L, true))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      assert(matches === Map(1L -> 1L, 2L -> 0L))
      in.addData(batch2: _*)
      q.processAllAvailable()
      assert(matches === Map(1L -> 2L, 2L -> 2L))
      // batch/stream parity: the batch prefix-deficit operator on the
      // union of both batches gives the same final counts
      val all = (batch1 ++ batch2)
        .toDF("user_id", "ts", "event_id", "is_b")
      val batchOut = graft.ops.TimeSeries.sequenceCountPairs(all,
          col("user_id"), col("ts"), col("event_id"),
          !col("is_b"), col("is_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batchOut === matches)
    } finally { q.stop() }
  }

  test("incremental dashboard: foreachBatch daily sums serve gap-fill + moving agg with batch parity") {
    import graft.streaming.Dashboard
    val mv = tmp("dash") + "/mv"
    val in = MemoryStream[(String, java.sql.Timestamp, Long)](spark)
    val sink = Dashboard.dailySumSink(col("k"), col("ts"), col("v"), mv)
    val q = in.toDF().toDF("k", "ts", "v").writeStream
      .option("checkpointLocation", tmp("dashckpt"))
      .foreachBatch(sink).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: sparse days with a gap (01-01 and 01-04 for key a)
    val batch1 = Seq(("a", ts("2024-01-01 10:00:00"), 100L),
      ("a", ts("2024-01-01 12:00:00"), 50L),
      ("a", ts("2024-01-04 09:00:00"), 300L),
      ("b", ts("2024-01-02 00:00:00"), 40L))
    // batch 2: widens a's span and ADDS to an already-landed day — the
    // additive part-merge path
    val batch2 = Seq(("a", ts("2024-01-06 00:00:00"), 600L),
      ("a", ts("2024-01-04 23:00:00"), 100L),
      ("b", ts("2024-01-02 05:00:00"), 5L))
    def parity(soFar: Seq[(String, java.sql.Timestamp, Long)]): Unit = {
      val all = soFar.toDF("k", "ts", "v")
      def sorted(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
      val servedFill = Dashboard.gapFillSeries(spark, mv).get
      val batchFill = graft.ops.TimeSeries.gapFillDaily(all, col("k"),
        col("ts"), col("v"))
      assert(sorted(servedFill) === sorted(batchFill))
      val servedMov = Dashboard.movingSeries(spark, mv, frame = 3).get
      val batchMov = graft.ops.TimeSeries.movingAgg(all, col("k"),
        col("ts"), col("v"), frame = 3)
      assert(sorted(servedMov) === sorted(batchMov))
    }
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      parity(batch1)
      in.addData(batch2: _*)
      q.processAllAvailable()
      parity(batch1 ++ batch2)
      // exactly-once: re-offering an already-landed batch id (the
      // foreachBatch retry path) is a tag-probed no-op
      val partsBefore = Dashboard.dailyObs(spark, mv).get.collect().toSet
      sink(batch1.toDF("k", "ts", "v"), 0L)
      assert(Dashboard.dailyObs(spark, mv).get.collect().toSet === partsBefore)
    } finally { q.stop() }
  }

  test("outbox serializes enriched rows to JSON values, omitting nulls") {
    val in = MemoryStream[String](spark)
    val q = graft.enrich.Enrich.toOutboxJson(graft.cdc.Envelope.unwrapEngagement(in.toDF()))
      .writeStream.format("memory").queryName("outbox_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(engEvent(5, "c2", "click", "2024-01-01T10:00:00", null))
      q.processAllAvailable()
      val v = spark.sql("SELECT value FROM outbox_out").head.getString(0)
      assert(v.contains("\"event_id\":5"))
      assert(v.contains("\"content_id\":\"c2\""))
      assert(!v.contains("duration_ms")) // null fields omitted (K3 parity)
    } finally { q.stop() }
  }

  test("streaming warehouse sink: replayed batches dedup via LWW read") {
    val path = tmp("whs") + "/t"
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
    val q = Pipeline.warehouseSink(enriched, tmp("ckp-wh")) { (df, _) =>
      graft.sinks.Warehouse.append(df, path)
    }.start()
    try {
      val e = engEvent(11, "c1", "play", "2024-01-01T10:00:00", 1000L)
      in.addData(e); q.processAllAvailable()
      in.addData(e); q.processAllAvailable() // at-least-once replay
      // raw (pre-LWW) data files hold both deliveries
      assert(spark.read.parquet(s"$path/data").count() === 2)
      assert(graft.sinks.Warehouse.read(spark, path).count() === 1)
    } finally { q.stop() }
  }

  test("warehouse sink: null event_ts lands with substituted processing time") {
    val path = tmp("whn") + "/t"
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
    val q = Pipeline.warehouseSink(enriched, tmp("ckp-whn")) { (df, _) =>
      graft.sinks.Warehouse.append(df, path)
    }.start()
    try {
      // no event_ts field at all → unwrap yields null event_ts; the sink
      // must substitute processed_ts instead of dropping the row
      // (reference: EnhancedEngagementStreamingJob.java:536–540)
      in.addData(
        s"""{"payload":{"after":{"id":"77","content_id":"c9","user_id":"u77","event_type":"play","device":"web"},"op":"c","ts_ms":77}}""")
      q.processAllAvailable()
      val rows = graft.sinks.Warehouse.read(spark, path)
        .select(col("event_id"), col("event_ts"), col("processed_ts")).collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 77L)
      assert(!rows.head.isNullAt(1)) // substituted, not null
      assert(rows.head.getTimestamp(1) === rows.head.getTimestamp(2))
    } finally { q.stop() }
  }

  test("minute top-k read side: at most k content ids per minute leave the engine") {
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
      .withColumn("engagement_score",
        graft.functions.Engagement.engagementScore(col("event_type"), col("duration_ms")))
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Int)]()
    val q = Pipeline.minuteTopKSink(enriched, k = 2, tmp("ckp-topk")) { df =>
      out ++= df.select(col("minute_bucket"), col("content_id"), col("rk"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    }.start()
    try {
      in.addData(
        engEvent(1, "cA", "finish", "2024-01-01T10:00:10", 1800000L), // 7.5
        engEvent(2, "cB", "play", "2024-01-01T10:00:20", 45000L),     // 2.5
        engEvent(3, "cC", "click", "2024-01-01T10:00:30", null),      // 0.2
        engEvent(4, "cD", "click", "2024-01-01T10:00:40", null))      // 0.2
      q.processAllAvailable()
      val minute = out.filter(_._1 == "202401011000")
      assert(minute.map(_._2).toSet === Set("cA", "cB")) // top-2 only
      assert(minute.forall(_._3 <= 2))
    } finally { q.stop() }
  }

  test("streaming sessionization: session closes after the gap passes the watermark") {
    val in = MemoryStream[String](spark)
    val events = graft.cdc.Envelope.unwrapEngagement(in.toDF())
      .withWatermark("event_ts", "0 seconds")
      .withColumn("user_id",
        when(col("event_id") <= 2, lit("uA")).otherwise(col("user_id")))
      .withColumn("value", col("duration_ms").cast("double") / 1000)
      .withColumnRenamed("event_ts", "ts")
    val q = graft.ops.Rollups.sessionize(events, col("ts"), col("user_id"), "5 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        engEvent(1, "c1", "play", "2024-01-01T10:00:00", 1000L),
        engEvent(2, "c1", "play", "2024-01-01T10:03:00", 2000L)) // same session
      q.processAllAvailable()
      // advance watermark far past 10:03 + 5 min → session closes
      in.addData(engEvent(3, "c1", "click", "2024-01-01T11:00:00", null))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT session_start, session_end, cnt FROM sess_out").collect()
      assert(rows.length === 1)
      assert(rows(0).getString(0) === "2024-01-01 10:00:00.000000")
      assert(rows(0).getString(1) === "2024-01-01 10:08:00.000000") // last + gap
      assert(rows(0).getLong(2) === 2L)
    } finally { q.stop() }
  }

  test("stream-stream join retro-matches buffered events — why the dim-snapshot design won (J1)") {
    // SURVEY §2.4 J1 picked foreachBatch dim-snapshot (option a) over a
    // stream-stream join (option b) because Spark's stream-stream join
    // BUFFERS the fact side: an event arriving before its content row is
    // retro-enriched when the content arrives — the reference's
    // as-of-processing-time broadcast state never does that. This test
    // pins the divergence that drove the design.
    val engIn = MemoryStream[String](spark)
    val contentIn = MemoryStream[String](spark)
    val events = graft.cdc.Envelope.unwrapEngagement(engIn.toDF())
      .select(col("event_id"), col("content_id"))
    val content = graft.cdc.Envelope.unwrapContent(contentIn.toDF())
      .select(col("id"), col("content_type"))
    val q = events.join(content, col("content_id") === col("id"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      engIn.addData(engEvent(1, "cX", "play", "2024-01-01T10:00:00", 1000L))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ss_join").head.getLong(0) === 0)
      // content arrives AFTER the event — stream-stream join emits the
      // retro-match; the dim-snapshot pipeline (tested above) does not
      contentIn.addData(contentUpsert("cX", "podcast", 300, 1))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM ss_join").head.getLong(0) === 1)
    } finally { q.stop() }
  }

  test("late data (ST4): stateless enrichment accepts it; watermarked rollup drops it") {
    val in = MemoryStream[String](spark)
    val unwrapped = graft.cdc.Envelope.unwrapEngagement(in.toDF())
    val enriched = unwrapped
      .withColumn("content_type", lit("podcast"))
      .withColumn("engagement_score",
        graft.functions.Engagement.engagementScore(col("event_type"), col("duration_ms")))
    val statelessQ = unwrapped.writeStream.format("memory")
      .queryName("late_stateless").outputMode(OutputMode.Append).start()
    val rollupQ = Pipeline.hourlyRollup(enriched).writeStream.format("memory")
      .queryName("late_rollup").outputMode(OutputMode.Append).start()
    try {
      in.addData(engEvent(1, "c1", "play", "2024-01-01T12:00:00", 1000L))
      statelessQ.processAllAvailable(); rollupQ.processAllAvailable()
      // event 3 hours late, far past the 30 s watermark
      in.addData(engEvent(2, "c1", "play", "2024-01-01T09:00:00", 1000L))
      statelessQ.processAllAvailable(); rollupQ.processAllAvailable()
      // advance far enough to close every window that could exist
      in.addData(engEvent(3, "c1", "click", "2024-01-01T14:00:00", null))
      statelessQ.processAllAvailable(); rollupQ.processAllAvailable()
      // stateless path: all 3 events pass through, including the late one
      assert(spark.sql("SELECT count(*) FROM late_stateless").head.getLong(0) === 3)
      // windowed path: the 09:00 hour never materializes (documented
      // divergence from the reference's accept-everything warehouse)
      val hours = spark.sql("SELECT CAST(hour_ts AS STRING) FROM late_rollup")
        .collect().map(_.getString(0)).toSet
      assert(!hours.exists(_.contains("09:00")), hours.toString)
      assert(hours.exists(_.contains("12:00")))
    } finally { statelessQ.stop(); rollupQ.stop() }
  }

  test("checkpoint restart: resumed query skips processed offsets (ST5/ST7)") {
    val srcDir = tmp("src-files")
    val ckp = tmp("ckp-restart")
    val whPath = tmp("wh-restart") + "/t"
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        String.join("\n", lines: _*).getBytes)
    def startQuery() = {
      val raw = spark.readStream.text(srcDir)
      Pipeline.warehouseSink(
        graft.cdc.Envelope.unwrapEngagement(raw), ckp) { (df, _) =>
        graft.sinks.Warehouse.append(df, whPath)
      }.start()
    }

    writeFile("batch1.json", Seq(
      engEvent(1, "c1", "play", "2024-01-01T10:00:00", 1000L),
      engEvent(2, "c1", "pause", "2024-01-01T10:01:00", 2000L)))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(whPath).count() === 2)

    // second run, same checkpoint: only the NEW file is processed —
    // event 2 is redelivered inside it (at-least-once producer) and is
    // absorbed by the LWW read
    writeFile("batch2.json", Seq(
      engEvent(2, "c1", "pause", "2024-01-01T10:01:00", 2000L),
      engEvent(3, "c1", "finish", "2024-01-01T10:02:00", 1800000L)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(whPath).count() === 4) // 2 + 2, NOT 6: batch1 not reprocessed
    assert(graft.sinks.Warehouse.read(spark, whPath).count() === 3) // dedup to 1,2,3
  }

  test("TTL last-event state: newest kept per key; watermark-based expiry emits tombstone") {
    val in = MemoryStream[String](spark)
    val enriched = graft.cdc.Envelope.unwrapEngagement(in.toDF())
      .withColumn("user_id",
        when(col("event_id") <= 3, lit("uA")).otherwise(col("user_id")))
    val q = Pipeline.lastEventWithTTL(enriched, ttlMs = 3600000L,
      eventTimeTTL = true, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(
        engEvent(1, "c1", "play", "2024-01-01T10:00:00", 1000L),
        engEvent(2, "c1", "pause", "2024-01-01T10:05:00", 2000L))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT json FROM ttl_out WHERE NOT expired AND userId = 'uA' ORDER BY eventTsMicros DESC LIMIT 1")
        .head.getString(0)
      assert(last.contains("\"event_id\":2")) // newest event wins within the key
      // advance the watermark well past uA's 10:05 + 1h TTL, then one
      // more batch so the timer (set against the previous watermark) fires
      in.addData(engEvent(4, "c1", "click", "2024-01-01T12:00:00", null))
      q.processAllAvailable()
      in.addData(engEvent(5, "c1", "click", "2024-01-01T12:01:00", null))
      q.processAllAvailable()
      val expired = spark.sql("SELECT count(*) FROM ttl_out WHERE expired AND userId = 'uA'")
        .head.getLong(0)
      assert(expired === 1L)
    } finally { q.stop() }
  }

  test("streaming corpus ingest: gate + cross-batch dedup + exactly-once landing") {
    val base = tmp("ingest-store") + "/t"
    val goodText = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river where it drinks in the morning light of a calm day"
    val otherText = "a completely different document about streams of data " +
      "and the engines that process them for training large models today"
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", tmp("ingest-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.streaming.CorpusIngest.ingestBatch(spark, base, batch, id)
      }
      .start()
    try {
      // batch 0: a good doc, its in-batch duplicate, and garbage
      in.addData((1L, goodText), (2L, goodText), (3L, "%%% !!!"))
      q.processAllAvailable()
      val s1 = graft.sinks.SnapshotStore.read(spark, base).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s1 === Set(1L), s"batch 0 landed $s1")
      // batch 1: a cross-batch duplicate of doc 1 plus one new doc
      in.addData((4L, goodText), (5L, otherText))
      q.processAllAvailable()
      val s2 = graft.sinks.SnapshotStore.read(spark, base).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(s2 === Set(1L, 5L), s"batch 1 landed $s2")
      // replay of an already-committed batch id is a no-op (the tag)
      graft.streaming.CorpusIngest.ingestBatch(spark, base,
        Seq((5L, otherText)).toDF("doc_id", "text"), batchId = 1L)
      assert(graft.sinks.SnapshotStore.read(spark, base).get.count() === 2L)
    } finally { q.stop() }
  }

  test("composed training pipeline: gates, exact dedup, near-dup eviction, monitor MV, idempotent replay") {
    val root = tmp("pipe-stores")
    val (base, idx, pairs, mv) =
      (s"$root/corpus", s"$root/idx", s"$root/pairs", s"$root/mv")
    // 55 ordinary english words: clears the Gopher gate (>= 50 tokens,
    // alpha words, stopwords) and the quality gate
    val textA = ("the quick brown fox jumps over the lazy dog and then " +
      "runs down to the river where it drinks in the cool morning light " +
      "of a calm clear day while birds sing in the trees and the wind " +
      "moves softly through the tall green grass near the old stone " +
      "bridge by the mill").trim
    val textNear = textA.replace("stone bridge", "stone tower") // near-dup of A
    val textB = ("a completely different document about streams of data " +
      "and the engines that process them for training large models " +
      "every day with care and patience across many machines in the " +
      "wide network where each batch lands exactly once and the state " +
      "stays correct under replays of any kind at all times").trim
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", tmp("pipe-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.streaming.CorpusIngest.pipelineBatch(spark, base, idx, pairs,
          mv, batch, id)
      }
      .start()
    try {
      // batch 0: garbage (gate drop), a good doc, its exact in-batch copy
      in.addData((0L, "%%% !!!"), (1L, textA), (2L, textA))
      q.processAllAvailable()
      // batch 1: cross-batch exact copy, a near-dup (one phrase changed),
      // and a genuinely new doc
      in.addData((3L, textA), (4L, textNear), (5L, textB))
      q.processAllAvailable()
      val served = graft.streaming.CorpusIngest.servedCorpus(spark, base, pairs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(served === Set(1L, 5L),
        s"served corpus must drop the gate-fail, both exact copies, and the near-dup: $served")
      // the near-dup LANDED in the seen store (exact-new) and is evicted
      // by the pairs record — the serve-time (ClickHouse lightweight-
      // delete) semantics
      val seen = graft.sinks.SnapshotStore.read(spark, base).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(seen === Set(1L, 4L, 5L), s"seen store: $seen")
      val mvRows = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in", "n_gated", "n_fresh", "n_evicted", "tok_fresh")).get
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(mvRows(0) === ((0L, 3L, 2L, 1L, 0L)), s"batch 0 monitor: ${mvRows(0)}")
      assert(mvRows(1) === ((1L, 3L, 3L, 2L, 1L)), s"batch 1 monitor: ${mvRows(1)}")
      // replay of batch 1 (the at-least-once window): every landing is
      // tag-idempotent — seen store, evictions, and MV all unchanged
      graft.streaming.CorpusIngest.pipelineBatch(spark, base, idx, pairs, mv,
        Seq((3L, textA), (4L, textNear), (5L, textB)).toDF("doc_id", "text"),
        batchId = 1L)
      assert(graft.sinks.SnapshotStore.read(spark, base).get.count() === 3L)
      assert(graft.sinks.SnapshotStore.read(spark, pairs).get.count() === 1L)
      val mvAfter = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in")).get.agg(org.apache.spark.sql.functions.sum("n_in"))
        .head.getLong(0)
      assert(mvAfter === 6L, s"MV must absorb the replayed batch, got n_in sum $mvAfter")
    } finally { q.stop() }
  }

  test("streaming conversation ingest: gate/clean, conv-level dedup, near-dup eviction, batch parity, idempotent replay") {
    import spark.implicits._
    val root = tmp("conv-pipe")
    val (base, turnsB, idx, pairs, mv) = (s"$root/convs", s"$root/turns",
      s"$root/idx", s"$root/pairs", s"$root/mv")
    def payload(turns: (String, String)*): String =
      turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString("[", ",", "]")
    val sys0 = "you are a helpful assistant that always answers carefully and well"
    val usrA = "please tell me how the quick brown fox jumps over the lazy " +
      "dog near the old stone bridge by the mill"
    val asstA = "the quick brown fox jumps over the lazy dog and then runs " +
      "down to the river where it drinks in the cool morning light"
    val pA = payload("system" -> sys0, "user" -> usrA, "assistant" -> asstA)
    // exact after normalization only: upper-cased, doubled spaces
    val pAExact = payload("system" -> sys0.toUpperCase,
      "user" -> usrA.replace(" ", "  "),
      "assistant" -> asstA.toUpperCase)
    // near: one 3-word phrase of the assistant turn changed
    val pNear = payload("system" -> sys0, "user" -> usrA,
      "assistant" -> asstA.replace("cool morning light", "warm evening light"))
    // both turns structurally fail (< 3 tokens) → drop_conv
    val pBad = payload("user" -> "ok", "assistant" -> "no")
    // clean conversation carrying redactable PII in the user turn
    val pB = payload("system" -> sys0,
      "user" -> ("contact me at agent47@mail.example.com for the full " +
        "details of the plan we discussed yesterday evening"),
      "assistant" -> ("a completely different answer about streams of " +
        "data and the engines that process them for training large models"))
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("conv_id", "payload")
      .writeStream
      .option("checkpointLocation", tmp("conv-pipe-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.streaming.ConvIngest.pipelineBatch(spark, base, turnsB, idx,
          pairs, mv, batch, id)
      }
      .start()
    try {
      // batch 0: a good conv, its normalized-exact twin, a drop_conv
      in.addData((1L, pA), (2L, pAExact), (3L, pBad))
      q.processAllAvailable()
      // batch 1: cross-batch exact copy, a near-dup, a new conv
      in.addData((4L, pA), (5L, pNear), (6L, pB))
      q.processAllAvailable()
      val served = graft.streaming.ConvIngest.servedTurns(spark, turnsB, pairs)
        .localCheckpoint()
      val servedConvs = served.select("conv_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(servedConvs === Set(1L, 6L),
        s"serve must drop the gate-fail, both exact twins, and the near-dup: $servedConvs")
      // PII is redacted IN the landed turns, not dropped with them
      val piiTurn = served.filter(col("conv_id") === 6L && col("turn_idx") === 1L)
        .select("content").head.getString(0)
      assert(piiTurn.contains("<EMAIL>") && !piiTurn.contains("mail.example.com"))
      // the near-dup LANDED in the registry (exact-new) — eviction is
      // serve-time, the lightweight-delete semantics
      val seen = graft.sinks.SnapshotStore.read(spark, base).get
        .select("conv_id").collect().map(_.getLong(0)).toSet
      assert(seen === Set(1L, 5L, 6L), s"registry: $seen")
      val mvRows = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in", "n_cleaned", "n_fresh", "n_evicted", "turns_fresh")).get
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      assert(mvRows(0) === ((0L, 3L, 2L, 1L, 0L, 3L)), s"batch 0 monitor: ${mvRows(0)}")
      assert(mvRows(1) === ((1L, 3L, 3L, 2L, 1L, 6L)), s"batch 1 monitor: ${mvRows(1)}")
      // BATCH PARITY: the streamed loss-mask pack equals the one-shot
      // batch chain over the same conversations (the oracle's claim,
      // re-proven engine-side on a hand fixture)
      val allConvs = Seq((1L, pA), (2L, pAExact), (3L, pBad), (4L, pA),
        (5L, pNear), (6L, pB)).toDF("conv_id", "payload")
      val cleaned = graft.ops.Conversations.clean(
        graft.ops.Conversations.flatten(allConvs, col("conv_id"),
          col("payload"))).localCheckpoint()
      val ctext = graft.ops.Conversations.convText(cleaned)
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("conv_id"))
      val exactKeep = ctext.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val drops = graft.dedup.MinHash.verifiedPairs(exactKeep,
          col("conv_id"), col("text"))
        .select(col("doc_b").as("conv_id")).distinct()
      val keptTurns = cleaned
        .join(exactKeep.select("conv_id"), Seq("conv_id"), "left_semi")
        .join(drops, Seq("conv_id"), "left_anti")
      def packed(t: org.apache.spark.sql.DataFrame) =
        graft.ops.Conversations.packWithLossMask(
          graft.ops.Conversations.render(t), seqLen = 64)
          .collect().map(_.toSeq).toSet
      assert(packed(served) === packed(keptTurns),
        "streamed pack must be bit-equal to the batch chain")
      // replay of batch 1 (the at-least-once window): every landing is
      // tag-idempotent — registry, turns, evictions, MV all unchanged
      graft.streaming.ConvIngest.pipelineBatch(spark, base, turnsB, idx,
        pairs, mv,
        Seq((4L, pA), (5L, pNear), (6L, pB)).toDF("conv_id", "payload"),
        batchId = 1L)
      assert(graft.sinks.SnapshotStore.read(spark, base).get.count() === 3L)
      assert(graft.sinks.SnapshotStore.read(spark, turnsB).get.count() === 9L)
      assert(graft.sinks.SnapshotStore.read(spark, pairs).get.count() === 1L)
      val mvAfter = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in")).get.agg(org.apache.spark.sql.functions.sum("n_in"))
        .head.getLong(0)
      assert(mvAfter === 6L, s"MV must absorb the replay, got n_in sum $mvAfter")
    } finally { q.stop() }
  }

  test("failure injection: crash after store-commit before checkpoint → restart appends once") {
    // The at-least-once window the exactly-once contract must close:
    // foreachBatch commits batch N to the SnapshotStore, then the
    // process dies BEFORE Structured Streaming records batch N in the
    // checkpoint. On restart the engine replays batch N (same id, same
    // data) — the store's idempotence tag must absorb the replay.
    val base = tmp("crash-store") + "/t"
    val ck = tmp("crash-ck")
    val textA = "first document long enough to clear the ingest quality " +
      "gate with ordinary english words in an ordinary order every day"
    val textB = "second document also long enough to clear the quality " +
      "gate carrying different ordinary words in a different order now"
    def startQuery(in: MemoryStream[(Long, String)]) =
      in.toDF().toDF("doc_id", "text")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.CorpusIngest.ingestBatch(spark, base, batch, id)
        }
        .start()
    val in = MemoryStream[(Long, String)](spark)
    val q1 = startQuery(in)
    try {
      in.addData((1L, textA))
      q1.processAllAvailable() // batch 0 fully committed (store + checkpoint)
    } finally q1.stop()
    // the "crash": batch 1's foreachBatch ran to completion against the
    // store, but the engine died before advancing the checkpoint — so
    // the checkpoint still says "last committed = batch 0"
    graft.streaming.CorpusIngest.ingestBatch(spark, base,
      Seq((2L, textB)).toDF("doc_id", "text"), batchId = 1L)
    assert(graft.sinks.SnapshotStore.read(spark, base).get.count() === 2L)
    // restart from the SAME checkpoint; the engine re-delivers the data
    // as batch 1 — without the tag this would double-append doc 2
    val q2 = startQuery(in)
    try {
      in.addData((2L, textB))
      q2.processAllAvailable()
      val rows = graft.sinks.SnapshotStore.read(spark, base).get
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(rows === Seq(1L, 2L), s"replayed batch duplicated rows: $rows")
      // and the store carries exactly one committed version per batch
      val versions = graft.sinks.SnapshotStore.versions(spark, base)
      assert(versions.size === 2, s"expected 2 commits, got $versions")
    } finally q2.stop()
  }

  test("failure injection: crash BETWEEN landing commits → replay recovers the full corpus batch") {
    // The window the post-completion crash test above cannot see: the
    // composed pipeline lands FOUR stores sequentially (index →
    // registry → evictions → monitor MV), so a crash BETWEEN commits
    // strands the batch half-landed. Without read-back recovery the
    // replay's anti-join sees the already-committed registry rows,
    // `fresh` collapses to ∅, and the missing stores commit EMPTY
    // frames under their idempotence tags — the batch's evictions and
    // monitor row are lost forever. This matrix kills the batch after
    // EACH commit in turn, replays, and asserts the final state is
    // bit-equal to a never-crashed run.
    val textA = ("the quick brown fox jumps over the lazy dog and then " +
      "runs down to the river where it drinks in the cool morning light " +
      "of a calm clear day while birds sing in the trees and the wind " +
      "moves softly through the tall green grass near the old stone " +
      "bridge by the mill").trim
    val textNear = textA.replace("stone bridge", "stone tower")
    val textB = ("a completely different document about streams of data " +
      "and the engines that process them for training large models " +
      "every day with care and patience across many machines in the " +
      "wide network where each batch lands exactly once and the state " +
      "stays correct under replays of any kind at all times").trim
    val b1 = Seq((3L, textA), (4L, textNear), (5L, textB))
    for (site <- Seq("index", "registry", "evictions")) {
      val root = tmp(s"crash-corpus-$site")
      val (base, idx, pairs, mv) =
        (s"$root/corpus", s"$root/idx", s"$root/pairs", s"$root/mv")
      graft.streaming.CorpusIngest.pipelineBatch(spark, base, idx, pairs, mv,
        Seq((0L, "%%% !!!"), (1L, textA), (2L, textA)).toDF("doc_id", "text"),
        batchId = 0L)
      graft.streaming.IngestRegistry.crashAfter = Some(site)
      try {
        val e = intercept[RuntimeException] {
          graft.streaming.CorpusIngest.pipelineBatch(spark, base, idx, pairs,
            mv, b1.toDF("doc_id", "text"), batchId = 1L)
        }
        assert(e.getMessage.contains("injected crash"), e.getMessage)
      } finally graft.streaming.IngestRegistry.crashAfter = None
      // the restart: foreachBatch re-delivers the SAME batch id + data
      graft.streaming.CorpusIngest.pipelineBatch(spark, base, idx, pairs, mv,
        b1.toDF("doc_id", "text"), batchId = 1L)
      val served = graft.streaming.CorpusIngest.servedCorpus(spark, base, pairs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(served === Set(1L, 5L), s"[$site] served after recovery: $served")
      val seen = graft.sinks.SnapshotStore.read(spark, base).get
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(seen === Set(1L, 4L, 5L), s"[$site] seen store: $seen")
      assert(graft.sinks.SnapshotStore.read(spark, pairs).get.count() === 1L,
        s"[$site] eviction record lost")
      val mvRows = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in", "n_gated", "n_fresh", "n_evicted", "tok_fresh")).get
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(mvRows.length === 2, s"[$site] monitor rows: ${mvRows.toSeq}")
      assert(mvRows(0) === ((0L, 3L, 2L, 1L, 0L)), s"[$site] batch 0 monitor: ${mvRows(0)}")
      assert(mvRows(1) === ((1L, 3L, 3L, 2L, 1L)), s"[$site] batch 1 monitor: ${mvRows(1)}")
    }
  }

  test("failure injection: crash BETWEEN landing commits → replay recovers the full conversation batch") {
    import spark.implicits._
    def payload(turns: (String, String)*): String =
      turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString("[", ",", "]")
    val sys0 = "you are a helpful assistant that always answers carefully and well"
    val usrA = "please tell me how the quick brown fox jumps over the lazy " +
      "dog near the old stone bridge by the mill"
    val asstA = "the quick brown fox jumps over the lazy dog and then runs " +
      "down to the river where it drinks in the cool morning light"
    val pA = payload("system" -> sys0, "user" -> usrA, "assistant" -> asstA)
    val pAExact = payload("system" -> sys0.toUpperCase,
      "user" -> usrA.replace(" ", "  "), "assistant" -> asstA.toUpperCase)
    val pNear = payload("system" -> sys0, "user" -> usrA,
      "assistant" -> asstA.replace("cool morning light", "warm evening light"))
    val pBad = payload("user" -> "ok", "assistant" -> "no")
    val pB = payload("system" -> sys0,
      "user" -> ("contact me at agent47@mail.example.com for the full " +
        "details of the plan we discussed yesterday evening"),
      "assistant" -> ("a completely different answer about streams of " +
        "data and the engines that process them for training large models"))
    val b1 = Seq((4L, pA), (5L, pNear), (6L, pB))
    // "turns" is the exact window VERDICT r14 named: registry committed,
    // turns not — the batch's training payload is what recovery saves
    for (site <- Seq("index", "registry", "turns", "evictions")) {
      val root = tmp(s"crash-conv-$site")
      val (base, turnsB, idx, pairs, mv) = (s"$root/convs", s"$root/turns",
        s"$root/idx", s"$root/pairs", s"$root/mv")
      graft.streaming.ConvIngest.pipelineBatch(spark, base, turnsB, idx,
        pairs, mv, Seq((1L, pA), (2L, pAExact), (3L, pBad))
          .toDF("conv_id", "payload"), batchId = 0L)
      graft.streaming.IngestRegistry.crashAfter = Some(site)
      try {
        val e = intercept[RuntimeException] {
          graft.streaming.ConvIngest.pipelineBatch(spark, base, turnsB, idx,
            pairs, mv, b1.toDF("conv_id", "payload"), batchId = 1L)
        }
        assert(e.getMessage.contains("injected crash"), e.getMessage)
      } finally graft.streaming.IngestRegistry.crashAfter = None
      graft.streaming.ConvIngest.pipelineBatch(spark, base, turnsB, idx,
        pairs, mv, b1.toDF("conv_id", "payload"), batchId = 1L)
      val servedConvs = graft.streaming.ConvIngest
        .servedTurns(spark, turnsB, pairs)
        .select("conv_id").distinct().collect().map(_.getLong(0)).toSet
      assert(servedConvs === Set(1L, 6L), s"[$site] served after recovery: $servedConvs")
      val seen = graft.sinks.SnapshotStore.read(spark, base).get
        .select("conv_id").collect().map(_.getLong(0)).toSet
      assert(seen === Set(1L, 5L, 6L), s"[$site] registry: $seen")
      // conv 1: 3 turns landed in batch 0; convs 5 + 6: 3 turns each in
      // batch 1 — a lost cturns commit would leave 3 here
      assert(graft.sinks.SnapshotStore.read(spark, turnsB).get.count() === 9L,
        s"[$site] landed turns lost")
      assert(graft.sinks.SnapshotStore.read(spark, pairs).get.count() === 1L,
        s"[$site] eviction record lost")
      val mvRows = graft.sinks.SummingStore.read(spark, mv, Seq("batch_id"),
          Seq("n_in", "n_cleaned", "n_fresh", "n_evicted", "turns_fresh")).get
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      assert(mvRows.length === 2, s"[$site] monitor rows: ${mvRows.toSeq}")
      assert(mvRows(0) === ((0L, 3L, 2L, 1L, 0L, 3L)), s"[$site] batch 0 monitor: ${mvRows(0)}")
      assert(mvRows(1) === ((1L, 3L, 3L, 2L, 1L, 6L)), s"[$site] batch 1 monitor: ${mvRows(1)}")
    }
  }

  test("streaming preference ingest: gate, cross-batch prompt dedup, margin ledger, monitor MV, crash-atomic replay") {
    import spark.implicits._
    val promptA = "please explain how the data pipeline works today"
    val promptB = "please describe the storage layer design for me"
    val promptC = "please summarize the compaction strategy briefly now"
    val promptD = "please outline the serving path for the dashboards"
    val good = "the pipeline reads the raw events and then cleans " +
      "and joins them with the dimensions before it lands the result"
    val alt = "a different answer that describes the storage layer " +
      "and the way the files are compacted for the readers every day"
    val short = "the pipeline reads the raw events and then stops"
    val b0 = Seq((1L, promptA, good, alt),                    // keep
      (2L, promptA.toUpperCase, good, alt),                   // in-batch prompt dup
      (3L, promptB, good, good))                              // degenerate (still registers its prompt)
    val b1 = Seq((4L, promptA, good, alt),                    // cross-batch prompt dup
      (5L, promptC, short, good),                             // keep, NEGATIVE margin
      (6L, promptD, good + " mail me at a@b.example.com", alt)) // keep, PII flagged
    def checkFinal(root: String, label: String): Unit = {
      val reg = graft.sinks.SnapshotStore.read(spark, s"$root/prompts").get
        .select("pair_id").collect().map(_.getLong(0)).toSet
      assert(reg === Set(1L, 3L, 5L, 6L),
        s"[$label] registry must hold prompt-new pairs of ANY verdict: $reg")
      val marg = graft.streaming.PrefIngest.servedMargins(spark, s"$root/margins")
        .collect().map(r => r.getAs[Long]("pair_id") -> r.getAs[Long]("margin_bp"))
        .toMap
      assert(marg.keySet === Set(1L, 5L, 6L),
        s"[$label] ledger must hold kept ∧ prompt-canonical pairs: ${marg.keySet}")
      assert(marg(5L) < 0L, s"[$label] the short-chosen pair must flag label noise")
      val mvRows = graft.sinks.SummingStore.read(spark, s"$root/mv",
          Seq("batch_id"),
          Seq("n_in", "n_keep", "n_fresh", "n_margin_neg", "n_pii_kept")).get
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      assert(mvRows.length === 2, s"[$label] monitor rows: ${mvRows.toSeq}")
      assert(mvRows(0) === ((0L, 3L, 2L, 2L, 0L, 0L)), s"[$label] batch 0: ${mvRows(0)}")
      assert(mvRows(1) === ((1L, 3L, 3L, 2L, 1L, 1L)), s"[$label] batch 1: ${mvRows(1)}")
    }
    // healthy streamed build through a real foreachBatch query
    val root0 = tmp("pref-pipe")
    val in = MemoryStream[(Long, String, String, String)](spark)
    val q = in.toDF().toDF("pair_id", "prompt", "chosen", "rejected")
      .writeStream
      .option("checkpointLocation", tmp("pref-pipe-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.streaming.PrefIngest.pipelineBatch(spark, s"$root0/prompts",
          s"$root0/margins", s"$root0/mv", batch, id)
      }
      .start()
    try {
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      checkFinal(root0, "stream")
      // post-completion replay (the classic at-least-once window)
      graft.streaming.PrefIngest.pipelineBatch(spark, s"$root0/prompts",
        s"$root0/margins", s"$root0/mv",
        b1.toDF("pair_id", "prompt", "chosen", "rejected"), batchId = 1L)
      checkFinal(root0, "replay")
    } finally q.stop()
    // failure injection: crash BETWEEN the landing commits, replay,
    // assert bit-equal recovery (crash-atomic from day one)
    for (site <- Seq("registry", "margins")) {
      val root = tmp(s"pref-crash-$site")
      graft.streaming.PrefIngest.pipelineBatch(spark, s"$root/prompts",
        s"$root/margins", s"$root/mv",
        b0.toDF("pair_id", "prompt", "chosen", "rejected"), batchId = 0L)
      graft.streaming.IngestRegistry.crashAfter = Some(site)
      try {
        val e = intercept[RuntimeException] {
          graft.streaming.PrefIngest.pipelineBatch(spark, s"$root/prompts",
            s"$root/margins", s"$root/mv",
            b1.toDF("pair_id", "prompt", "chosen", "rejected"), batchId = 1L)
        }
        assert(e.getMessage.contains("injected crash"), e.getMessage)
      } finally graft.streaming.IngestRegistry.crashAfter = None
      graft.streaming.PrefIngest.pipelineBatch(spark, s"$root/prompts",
        s"$root/margins", s"$root/mv",
        b1.toDF("pair_id", "prompt", "chosen", "rejected"), batchId = 1L)
      checkFinal(root, s"crash-$site")
    }
  }

  test("unigram vocab refresh: mid-stream model swap keeps batch parity, no restart") {
    import graft.ops.UnigramTok
    val store = tmp("uvocab") + "/vocab"
    val outBase = tmp("uvout") + "/enc"
    val d1 = Seq((1L, "aba abba cab"), (2L, "abba cab aba"))
    val d2 = Seq((3L, "aba cab cab abba"))
    val d3 = Seq((4L, "dada abad aba"), (5L, "abba dada dada"))
    val early = (d1 ++ d2).toDF("doc_id", "text")
    val all = (d1 ++ d2 ++ d3).toDF("doc_id", "text")
    def publish(docsDf: DataFrame, v: Long): Unit =
      UnigramTok.publishVocab(spark, store, docsDf, col("doc_id"),
        col("text"), version = v, maxPieceLen = 3, seedSize = 8,
        vocabSize = 8, emIters = 1)
    publish(early, 1L) // v1: trained on what will arrive first
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.option("checkpointLocation", tmp("uv-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // each micro-batch reads the CURRENT snapshot — a publish
        // between batches swaps the model with no query restart
        val (v, vocab) = UnigramTok.currentVocab(spark, store).get
        graft.sinks.SnapshotStore.commitAppend(spark, outBase,
          UnigramTok.encodeWithVocab(batch.toDF(), col("doc_id"),
              col("text"), vocab, maxPieceLen = 3)
            .withColumn("vocab_version", lit(v)),
          tag = Some(s"enc-$id"))
      }
      .start()
    try {
      in.addData(d1: _*); q.processAllAvailable()
      in.addData(d2: _*); q.processAllAvailable()
      publish(all, 2L) // the mid-stream REFRESH; the query keeps running
      in.addData(d3: _*); q.processAllAvailable()
    } finally q.stop()
    val got = graft.sinks.SnapshotStore.read(spark, outBase).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // batch decomposition with the same public API: early docs under
    // the v1 vocab, late docs under the v2 vocab — must be BIT-equal
    def vocabOf(docsDf: DataFrame) = UnigramTok.trainPieces(docsDf,
      col("doc_id"), col("text"), maxPieceLen = 3, seedSize = 8,
      vocabSize = 8, emIters = 1)
    val expect =
      (UnigramTok.encodeWithVocab(early, col("doc_id"), col("text"),
          vocabOf(early), maxPieceLen = 3)
        .withColumn("vocab_version", lit(1L)) unionByName
      UnigramTok.encodeWithVocab(d3.toDF("doc_id", "text"), col("doc_id"),
          col("text"), vocabOf(all), maxPieceLen = 3)
        .withColumn("vocab_version", lit(2L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === expect, s"stream/batch divergence:\n got=$got\n exp=$expect")
    // the swap really happened: late docs carry v2, early docs v1
    assert(got.filter(t => t._1 >= 4L).forall(_._4 === 2L))
    assert(got.filter(t => t._1 <= 3L).forall(_._4 === 1L))
    // and the two models genuinely differ on the late docs (else the
    // parity assertion proves nothing about the swap)
    val underV1 = UnigramTok.encodeWithVocab(d3.toDF("doc_id", "text"),
        col("doc_id"), col("text"), vocabOf(early), maxPieceLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val v2Pieces = got.filter(_._1 >= 4L).map(t => t._1 -> t._3).toMap
    assert(underV1 !== v2Pieces,
      "fixture too weak: v1 and v2 segment the late docs identically")
  }

  test("stream-stream attribution join: in-window pairs, watermark-bounded state, batch parity") {
    def evStream(in: MemoryStream[(Long, Long, String)]): DataFrame =
      in.toDF().toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val clicksIn = MemoryStream[(Long, Long, String)](spark)
    val purchIn = MemoryStream[(Long, Long, String)](spark)
    val q = Pipeline.attributionJoin(evStream(clicksIn), evStream(purchIn), "1 hour")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicksIn.addData((1L, 10L, "2024-01-01 10:00:00"), (2L, 20L, "2024-01-01 10:05:00"))
      purchIn.addData(
        (101L, 10L, "2024-01-01 10:30:00"),  // in window  → pair (1,101)
        (102L, 20L, "2024-01-01 11:30:00"),  // > 1 h late → no pair
        (103L, 99L, "2024-01-01 10:10:00"))  // no click   → no pair
      q.processAllAvailable()
      assert(spark.sql("SELECT click_id, purchase_id FROM attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 101L)))

      // advance BOTH watermarks far past every buffered row's horizon;
      // the join state must evict (clicks past click_ts + 1 h + delay,
      // purchases past purchase_ts + delay)
      clicksIn.addData((8L, 1L, "2024-01-01 15:00:00"))
      purchIn.addData((108L, 2L, "2024-01-01 15:00:00"))
      q.processAllAvailable()
      clicksIn.addData((9L, 1L, "2024-01-01 15:00:01"))
      purchIn.addData((109L, 2L, "2024-01-01 15:00:01"))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows < 10,
        s"join state retained $stateRows rows — pre-horizon rows not evicted")

      // batch parity: the SAME operator over the same rows as static data
      import spark.implicits._
      val cB = Seq((1L, 10L, "2024-01-01 10:00:00"), (2L, 20L, "2024-01-01 10:05:00"))
        .toDF("event_id", "user_id", "ts_s").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      val pB = Seq((101L, 10L, "2024-01-01 10:30:00"), (102L, 20L, "2024-01-01 11:30:00"),
        (103L, 99L, "2024-01-01 10:10:00"))
        .toDF("event_id", "user_id", "ts_s").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      val batch = Pipeline.attributionJoin(cB, pB, "1 hour")
        .select("click_id", "purchase_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === Set((1L, 101L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unconverted clicks only after the watermark closes them") {
    def evStream(in: MemoryStream[(Long, Long, String)]): DataFrame =
      in.toDF().toDF("event_id", "user_id", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val clicksIn = MemoryStream[(Long, Long, String)](spark)
    val purchIn = MemoryStream[(Long, Long, String)](spark)
    val q = Pipeline.attributionJoin(evStream(clicksIn), evStream(purchIn), "1 hour", "leftOuter")
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicksIn.addData((1L, 10L, "2024-01-01 10:00:00"), (2L, 20L, "2024-01-01 10:00:00"))
      purchIn.addData((101L, 10L, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // click 2 unmatched, but its 1 h window is still open → NOT emitted yet
      val early = spark.sql("SELECT click_id FROM attr_outer_out WHERE purchase_id IS NULL").count()
      assert(early === 0, "outer row emitted before the watermark proved no match can arrive")

      // push both watermarks past 11:00:00 + delay → click 2's window is closed
      clicksIn.addData((8L, 1L, "2024-01-01 12:00:00"))
      purchIn.addData((108L, 2L, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      clicksIn.addData((9L, 1L, "2024-01-01 12:00:01"))
      purchIn.addData((109L, 2L, "2024-01-01 12:00:01"))
      q.processAllAvailable()
      val outer = spark.sql(
        "SELECT click_id FROM attr_outer_out WHERE purchase_id IS NULL").collect()
        .map(_.getLong(0)).toSet
      assert(outer.contains(2L), s"unconverted click not emitted after watermark: $outer")
      assert(spark.sql(
        "SELECT click_id, purchase_id FROM attr_outer_out WHERE purchase_id IS NOT NULL")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 101L)))
    } finally q.stop()
  }

  test("live Welch t-test: streaming complete-mode agg matches batch on the same events") {
    import spark.implicits._
    // the A/B surface's streaming twin: welchTTest is ONE global
    // aggregate of associative decimal partials, so pointing it at a
    // streaming DataFrame in complete mode yields a live-updating
    // t-statistic with one row of state — no operator changes needed
    val in = MemoryStream[(Boolean, Long)](spark)
    val q = graft.ops.Stats.welchTTest(
        in.toDF().toDF("is_a", "v"), col("is_a"), col("v"))
      .writeStream.format("memory").queryName("welch_live")
      .outputMode(OutputMode.Complete).start()
    def live = spark.sql("SELECT * FROM welch_live")
    def batchOf(rows: Seq[(Boolean, Long)]) =
      graft.ops.Stats.welchTTest(rows.toDF("is_a", "v"), col("is_a"), col("v"))
    val batch1 = Seq((true, 1L), (true, 2L), (false, 4L))
    val batch2 = Seq((true, 3L), (false, 2L), (false, 6L))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      // one arm still singleton: stats null, partials exact
      val r1 = live.collect().head
      assert(r1.getAs[String]("s1_a") === "3" && r1.isNullAt(r1.fieldIndex("t_stat")))
      assert(live.collect().map(_.toString).toSeq ===
        batchOf(batch1).collect().map(_.toString).toSeq)
      in.addData(batch2: _*)
      q.processAllAvailable()
      val r2 = live.collect().head
      assert(!r2.isNullAt(r2.fieldIndex("t_stat")))
      assert(live.collect().map(_.toString).toSeq ===
        batchOf(batch1 ++ batch2).collect().map(_.toString).toSeq)
    } finally { q.stop() }
  }

  test("live quantiles: incremental sketch MV matches the one-shot batch sketch") {
    import graft.streaming.Dashboard
    import graft.ops.Sketches
    val mv = tmp("qsk") + "/mv"
    val in = MemoryStream[Long](spark)
    val q = in.toDF().toDF("v").writeStream
      .option("checkpointLocation", tmp("qskckpt"))
      .foreachBatch(Dashboard.quantileSketchSink(col("v"), mv)).start()
    val qs = Seq(1 -> 2, 3 -> 4)
    def served = Dashboard.servedQuantiles(spark, mv, qs).get
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    def batchOf(vals: Seq[Long]) = {
      import spark.implicits._
      Sketches.sketchQuantiles(
          Sketches.quantileSketch(vals.toDF("v"), col("v")), qs)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    val b1 = Seq(1L, 5L, 100L, 3000L)
    val b2 = Seq(2L, 7L, 900000L, 12L, 40L)
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(served === batchOf(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(served === batchOf(b1 ++ b2))
    } finally { q.stop() }
  }

  test("live bitmaps: incremental OR-merged MV matches the one-shot build") {
    import graft.ops.Bitmaps
    val mv = tmp("bmmv") + "/mv"
    val in = MemoryStream[(String, Long)](spark)
    val q = in.toDF().toDF("seg", "id").writeStream
      .option("checkpointLocation", tmp("bmckpt"))
      .foreachBatch(Bitmaps.bitmapSink(col("seg"), col("id"), mv)).start()
    def served = Bitmaps.servedCardinality(spark, mv).get
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("card"))
      .sorted.toSeq
    def batchOf(rows: Seq[(String, Long)]) =
      Bitmaps.cardinality(Bitmaps.build(rows.toDF("seg", "id"),
          col("seg"), col("id")))
        .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("card"))
        .sorted.toSeq
    // ids straddle word boundaries and REPEAT across batches — the
    // OR merge must absorb the duplicates, not double-count them
    val b1 = Seq(("a", 0L), ("a", 63L), ("b", 64L))
    val b2 = Seq(("a", 63L), ("a", 64L), ("b", 64L), ("b", 200L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(served === batchOf(b1))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(served === batchOf(b1 ++ b2)) // a→3, b→2 (dups absorbed)
      // compaction preserves the state exactly
      Bitmaps.compact(spark, mv)
      assert(served === batchOf(b1 ++ b2))
    } finally { q.stop() }
  }

  test("live seasonality: STL + period over the bucket-sum MV match one-shot batch") {
    import graft.streaming.Dashboard
    import graft.ops.Seasonal
    val bucketUs = 1000000L
    val mv = tmp("seasmv") + "/mv"
    val in = MemoryStream[(String, Long, Long)](spark)
    val toTs = (df: DataFrame) => df.toDF("seg", "b", "v")
      .select(col("seg"), timestamp_micros(col("b") * bucketUs).as("ts"),
        col("v"))
    val q = toTs(in.toDF()).writeStream
      .option("checkpointLocation", tmp("seasckpt"))
      .foreachBatch(Dashboard.bucketSumSink(col("seg"), col("ts"),
        col("v"), bucketUs, mv)).start()
    def dump(df: DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def batchStl(rows: Seq[(String, Long, Long)]) =
      dump(Seasonal.stlDecompose(toTs(rows.toDF("seg", "b", "v")),
        col("seg"), col("ts"), col("v"), bucketUs, period = 7))
    // a 7-cycle split across two batches, with one bucket's sum split
    // BETWEEN the batches (additivity must reassemble it)
    val b1 = (0 until 35).map(b =>
      ("k", b.toLong, if (b % 7 == 3) 400L else 0L))
    val b2 = (0 until 70).flatMap { b =>
      val spike = if (b % 7 == 3) Some(("k", b.toLong, 300L)) else None
      if (b < 35) spike.toSeq else Seq(("k", b.toLong,
        if (b % 7 == 3) 700L else 0L))
    }
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(Dashboard.servedStl(spark, mv, period = 7).get.count() === 35L)
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(dump(Dashboard.servedStl(spark, mv, period = 7).get) ===
        batchStl(b1 ++ b2))
      val p = Dashboard.servedPeriod(spark, mv, maxLag = 20).get
        .collect().head
      assert(p.getAs[Long]("period") === 7L)
      // live forecast backtest off the same MV matches one-shot batch
      val fServed = Dashboard.servedForecastEval(spark, mv, period = 7).get
      val fBatch = Seasonal.seasonalNaiveEval(toTs((b1 ++ b2).toDF()),
        col("seg"), col("ts"), col("v"), bucketUs, period = 7)
      assert(dump(fServed) === dump(fBatch))
      // the stream is exactly periodic after merge → zero error
      assert(fServed.collect().head.getAs[Double]("mae") === 0.0)
    } finally { q.stop() }
  }

  test("streaming strict funnel matches batch strict modes on ordered batches") {
    import graft.ops.Funnel
    val rng = new scala.util.Random(7)
    // randomized event soup: 30 users, steps 0..3 (0 = condition-free),
    // dense enough that interposers, ties, repeats and window misses
    // all occur; ~3 events share each timestamp to exercise tie rules
    val all = (0 until 600).map { i =>
      (rng.nextInt(30).toLong, (i / 3).toLong * 1000000L, rng.nextInt(4))
    }
    val winUs = 120L * 1000000L
    def batchCounts(dedup: Boolean): Map[Long, Long] = {
      val df = all.toDF("user_id", "ts_us", "step")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("step"))
      Funnel.windowFunnel(df, col("user_id"), col("ts"),
        (1 to 3).map(k => col("step") === k), window = "2 MINUTES",
        strictOrder = !dedup, strictDedup = dedup)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    for (dedup <- Seq(false, true)) {
      val in = MemoryStream[(Long, Long, Int)](spark)
      val name = s"strictfunnel_$dedup"
      val q = graft.streaming.Pipeline.streamingFunnel(
          in.toDF().toDF("user_id", "ts_us", "step")
            .select(col("user_id"),
              timestamp_micros(col("ts_us")).as("event_ts"), col("step")),
          winUs, strictOrder = !dedup, strictDedup = dedup)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        // two ts-ordered micro-batches (state only moves forward, so
        // an ordered split must reproduce the one-shot batch result)
        val (b1, b2) = all.sortBy(_._2).splitAt(300)
        in.addData(b1: _*)
        q.processAllAvailable()
        in.addData(b2: _*)
        q.processAllAvailable()
        val levels = spark.sql(s"SELECT userId, level FROM $name")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._1)
          .map { case (u, vs) => u -> vs.map(_._2).max }
        val got = (1L to 3L).map(s =>
          s -> levels.values.count(_ >= s).toLong).filter(_._2 > 0).toMap
        assert(got === batchCounts(dedup), s"dedup=$dedup")
      } finally { q.stop() }
    }
  }

  test("live ANOVA MV: foreachBatch partials serve the F readout with batch parity") {
    import graft.streaming.Dashboard
    val mv = tmp("anovamv") + "/mv"
    val in = MemoryStream[(String, Long)](spark)
    val sink = Dashboard.anovaPartialsSink(col("v"), col("g"), mv)
    val q = in.toDF().toDF("g", "v").writeStream
      .option("checkpointLocation", tmp("anovackpt"))
      .foreachBatch(sink).start()
    val batch1 = Seq(("a", 10L), ("a", 14L), ("b", 20L), ("b", 26L),
      ("c", 3L))
    val batch2 = Seq(("a", 12L), ("b", 23L), ("c", 5L), ("c", 4L))
    def parity(soFar: Seq[(String, Long)]): Unit = {
      val served = Dashboard.servedAnova(spark, mv).get.head().toSeq
      val oneShot = graft.ops.Stats.anovaF(soFar.toDF("g", "v"),
        col("v"), col("g")).head().toSeq
      assert(served === oneShot,
        "MV-served F must be bit-identical to the one-shot build")
    }
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      parity(batch1)
      in.addData(batch2: _*)
      q.processAllAvailable()
      parity(batch1 ++ batch2)
      // exactly-once: re-offering a landed batch id is a tag-probed no-op
      sink(batch1.toDF("g", "v"), 0L)
      parity(batch1 ++ batch2)
    } finally { q.stop() }
  }

  test("IVF index refresh: mid-stream centroid swap keeps batch parity, no restart") {
    import graft.similarity.IvfIndex
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val cents = tmp("ivfs-c") + "/cents"
    val cells = tmp("ivfs-a") + "/cells"
    val outBase = tmp("ivfs-o") + "/topk"
    val first = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    // v1: trained on (and serving) the half-corpus; the stream is the
    // QUERY side — each micro-batch of query ids is served against the
    // stores as published at that moment
    IvfIndex.publish(spark, cents, first, col("vec_id"), col("embedding"), 1L)
    IvfIndex.maintainCells(spark, cells, cents, first,
      col("vec_id"), col("embedding"))
    def serve(ids: Seq[Long]) = IvfIndex.topK(spark, cells, cents, emb,
      col("vec_id"), col("embedding"),
      isQuery = col("vec_id").isin(ids: _*), k = 5)
    val in = MemoryStream[Long](spark)
    val q = in.toDF().toDF("qid").writeStream
      .option("checkpointLocation", tmp("ivfs-ck"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ids = batch.collect().map(_.getLong(0)).toSeq
        if (ids.nonEmpty)
          graft.sinks.SnapshotStore.commitAppend(spark, outBase,
            serve(ids), tag = Some(s"topk-$id"))
      }
      .start()
    val early = Seq(0L, 1L, 2L)
    val late = Seq(3L, 4L)
    try {
      in.addData(early: _*); q.processAllAvailable()
      // the mid-stream REFRESH: retrain on the full corpus, re-assign;
      // the query keeps running and the next batch reads the new model
      IvfIndex.publish(spark, cents, emb, col("vec_id"), col("embedding"), 2L)
      IvfIndex.maintainCells(spark, cells, cents, emb,
        col("vec_id"), col("embedding"))
      in.addData(late: _*); q.processAllAvailable()
    } finally q.stop()
    val got = graft.sinks.SnapshotStore.read(spark, outBase).get
    // the swap happened: early queries served under v1, late under v2
    assert(got.filter(col("query_id").isin(early: _*) &&
      col("model_version") =!= 1L).count() === 0L)
    assert(got.filter(col("query_id").isin(late: _*) &&
      col("model_version") =!= 2L).count() === 0L)
    assert(got.filter(col("query_id").isin(late: _*)).count() > 0L)
    // batch parity: each side must equal a fresh one-shot serve under
    // the same stores' final state... which for v2 is rebuildable, and
    // for v1 was the half-corpus index — rebuild both and compare
    val c1 = tmp("ivfs-c1") + "/cents"; val a1 = tmp("ivfs-a1") + "/cells"
    IvfIndex.publish(spark, c1, first, col("vec_id"), col("embedding"), 1L)
    IvfIndex.maintainCells(spark, a1, c1, first, col("vec_id"), col("embedding"))
    val c2 = tmp("ivfs-c2") + "/cents"; val a2 = tmp("ivfs-a2") + "/cells"
    IvfIndex.publish(spark, c2, emb, col("vec_id"), col("embedding"), 2L)
    IvfIndex.maintainCells(spark, a2, c2, emb, col("vec_id"), col("embedding"))
    val expect = IvfIndex.topK(spark, a1, c1, emb, col("vec_id"),
        col("embedding"), isQuery = col("vec_id").isin(early: _*), k = 5)
      .unionByName(IvfIndex.topK(spark, a2, c2, emb, col("vec_id"),
        col("embedding"), isQuery = col("vec_id").isin(late: _*), k = 5))
    assert(got.exceptAll(expect).count() === 0L)
    assert(expect.exceptAll(got).count() === 0L)
    // and the two models genuinely differ for some late query (else
    // the parity assertion proves nothing about the swap): v1 serves
    // only the half-corpus cells, so a v1 serve of the late ids must
    // differ from what the stream recorded under v2
    val lateUnderV1 = IvfIndex.topK(spark, a1, c1, emb, col("vec_id"),
      col("embedding"), isQuery = col("vec_id").isin(late: _*), k = 5)
    assert(got.filter(col("query_id").isin(late: _*))
      .drop("model_version")
      .exceptAll(lateUnderV1.drop("model_version")).count() > 0L)
  }
}
