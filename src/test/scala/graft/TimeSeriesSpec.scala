package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.TimeSeries

/** Semantics of the ClickHouse time-series analogs on planted fixtures:
  * gap-fill densification + exact linear interpolation (including a
  * DOWNWARD slope, where floor division must agree across engines),
  * sequenceMatch strict ordering, sequenceCount greedy non-overlap via
  * the prefix-deficit identity, weighted type-1 quantiles, moving
  * frames, audience overlap, and sumMap canonicalization. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gapFillDaily densifies per-key spans, forward-fills, and interpolates exactly") {
    val events = Seq(
      // key 1: observed days 1 and 5 → 3 gap days; downward slope
      // 10_000_000 → 2_000_000 µ (Δ = −8_000_000 over 4 days:
      // −2_000_000/day, exactly divisible — no rounding ambiguity)
      (1L, ts("2024-03-01 10:00:00"), 10.0),
      (1L, ts("2024-03-05 10:00:00"), 2.0),
      // key 1 also has two events on day 1 summing with the first
      (1L, ts("2024-03-01 11:00:00"), 0.0),
      // key 2: single observation → 1-row grid, no interpolation
      (2L, ts("2024-03-02 00:00:00"), 7.5)
    ).toDF("user_id", "ts", "value")

    val out = TimeSeries.gapFillDaily(events, col("user_id"), col("ts"),
      round(col("value") * 1e6, 0).cast("long"))
      .orderBy(col("k"), col("day"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4)))

    assert(out.toSeq === Seq(
      (1L, "2024-03-01", true, 10000000L, 10000000L),
      (1L, "2024-03-02", false, 10000000L, 8000000L),
      (1L, "2024-03-03", false, 10000000L, 6000000L),
      (1L, "2024-03-04", false, 10000000L, 4000000L),
      (1L, "2024-03-05", true, 2000000L, 2000000L),
      (2L, "2024-03-02", true, 7500000L, 7500000L)))
  }

  test("gapFillDaily floor division rounds toward -inf on non-divisible negative slopes") {
    // 1_000_003 → 0 over 3 days: Δ/day = −333_334.33…; floor gives
    // −333_335 steps (1_000_003 − 333_335 = 666_668, then 333_333).
    // Truncation toward zero would give 666_669/333_335 instead.
    val events = Seq(
      (1L, ts("2024-03-01 00:00:00"), 1.000003),
      (1L, ts("2024-03-04 00:00:00"), 0.0)
    ).toDF("user_id", "ts", "value")
    val interp = TimeSeries.gapFillDaily(events, col("user_id"), col("ts"),
      round(col("value") * 1e6, 0).cast("long"))
      .orderBy(col("day")).select(col("v_interp")).as[Long].collect()
    assert(interp.toSeq === Seq(1000003L, 666668L, 333334L, 0L))
  }

  test("sequenceMatchUsers requires strictly increasing condition times") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a"), // a<b<c in order → match
      (1L, ts("2024-01-01 00:01:00"), "b"),
      (1L, ts("2024-01-01 00:02:00"), "c"),
      (2L, ts("2024-01-01 00:00:00"), "a"), // c before b → no match
      (2L, ts("2024-01-01 00:02:00"), "c"),
      (2L, ts("2024-01-01 00:03:00"), "b"),
      (3L, ts("2024-01-01 00:00:00"), "b"), // has no a → no match, but
      (3L, ts("2024-01-01 00:01:00"), "c")  // still in the universe
    ).toDF("user_id", "ts", "event_type")
    val out = TimeSeries.sequenceMatchUsers(events, col("user_id"), col("ts"),
      Seq(col("event_type") === "a", col("event_type") === "b",
        col("event_type") === "c"))
      .orderBy(col("u")).as[(Long, Boolean)].collect()
    assert(out.toSeq === Seq((1L, true), (2L, false), (3L, false)))
  }

  test("sequenceCountPairs counts greedy non-overlapping A→B matches") {
    def mk(u: Long, rows: (String, Int)*) = rows.zipWithIndex.map {
      case ((et, min), i) => (u, ts(f"2024-01-01 00:$min%02d:00"), i.toLong, et)
    }
    // u1: B A B   → 1 (A pairs with the trailing B)
    // u2: A B B A B → 2
    // u3: A A A   → 0 (no B)
    // u4: B B     → 0 (no A)
    // u5: A B A B → 2
    val events = (mk(1L, "B" -> 0, "A" -> 1, "B" -> 2) ++
      mk(2L, "A" -> 0, "B" -> 1, "B" -> 2, "A" -> 3, "B" -> 4) ++
      mk(3L, "A" -> 0, "A" -> 1, "A" -> 2) ++
      mk(4L, "B" -> 0, "B" -> 1) ++
      mk(5L, "A" -> 0, "B" -> 1, "A" -> 2, "B" -> 3))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.sequenceCountPairs(events, col("user_id"), col("ts"),
      col("event_id"), col("event_type") === "A", col("event_type") === "B")
      .orderBy(col("u")).as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 0L), (4L, 0L), (5L, 2L)))
  }

  test("withFillInterpolate: one-sided recurrence, global axis, default-0 prefix") {
    import graft.ops.TimeSeries
    // A observes at x=2 (100) and x=5 (400); B only at x=4 (50).
    // Global axis [2,5]. Carry = Δ0 rule; linstep = Δ10 rule.
    val obs = Seq(("A", 2L, 100L), ("A", 5L, 400L), ("B", 4L, 50L))
      .toDF("k", "x", "v")
    val out = TimeSeries.withFillInterpolate(obs, step = 1L,
        interpolations = Seq("c" -> 0L, "l" -> 10L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size === 8, "2 keys x 4 axis rows")
    assert(out(("A", 2L)) === ((true, 100L, 100L)))
    assert(out(("A", 3L)) === ((false, 100L, 110L))) // prev + 10*1
    assert(out(("A", 4L)) === ((false, 100L, 120L))) // prev + 10*2
    assert(out(("A", 5L)) === ((true, 400L, 400L)))
    // B before its first observation: ClickHouse type default, NOT a
    // backward fill (the two-sided gapFill would emit 50 here)
    assert(out(("B", 2L)) === ((false, 0L, 0L)))
    assert(out(("B", 3L)) === ((false, 0L, 0L)))
    assert(out(("B", 4L)) === ((true, 50L, 50L)))
    assert(out(("B", 5L)) === ((false, 50L, 60L)))
  }

  test("sequenceCountPairs two-phase carry is exact across bucket boundaries") {
    import graft.ops.TimeSeries
    // u1 spans two DAYS (the default bucket): B | A B B. The deficit
    // max (2) is only reachable with day-1's carry added to day-2's
    // in-bucket prefix — a per-bucket-only computation would get 1.
    // Greedy truth: the A matches one of the later Bs → 1 match.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 0L, "B"),
      (1L, ts("2024-01-02 09:00:00"), 1L, "A"),
      (1L, ts("2024-01-02 10:00:00"), 2L, "B"),
      (1L, ts("2024-01-02 11:00:00"), 3L, "B"),
      // u2: A on day 1 carries forward to match day 3's B
      (2L, ts("2024-01-01 10:00:00"), 4L, "A"),
      (2L, ts("2024-01-03 10:00:00"), 5L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.sequenceCountPairs(events, col("user_id"), col("ts"),
      col("event_id"), col("event_type") === "A", col("event_type") === "B")
      .orderBy(col("u")).as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L)))
  }

  test("weightedQuantiles picks the smallest value whose cumulative weight reaches ceil(q·W)") {
    // values 1,2,3 with weights 1,2,1 → W=4; ranks: q=1/4→1 (v=1),
    // q=1/2→2 (v=2), q=3/4→3 (v=2, cum 3), q=1→4 (v=3)
    val df = Seq((1L, 1L), (2L, 2L), (3L, 1L)).toDF("v", "w")
    val out = TimeSeries.weightedQuantiles(df, col("v"), col("w"),
      Seq(1 -> 4, 1 -> 2, 3 -> 4, 1 -> 1))
      .orderBy(col("q_num").cast("double") / col("q_den"))
      .select(col("value")).as[Long].collect()
    assert(out.toSeq === Seq(1L, 2L, 2L, 3L))
  }

  test("movingAgg frames over per-key daily aggregate rows") {
    val events = Seq(
      ("x", ts("2024-01-01 05:00:00"), 1.0),
      ("x", ts("2024-01-01 06:00:00"), 2.0), // day 1 sum 3
      ("x", ts("2024-01-02 05:00:00"), 4.0), // day 2
      ("x", ts("2024-01-05 05:00:00"), 8.0), // day 5 (rows-frame, not days)
      ("y", ts("2024-01-01 05:00:00"), 100.0)
    ).toDF("event_type", "ts", "value")
    val out = TimeSeries.movingAgg(events, col("event_type"), col("ts"),
      round(col("value") * 1e6, 0).cast("long"), frame = 2)
      .orderBy(col("k"), col("day"))
      .select(col("k"), col("day"), col("mov_sum"), col("mov_cnt"))
      .as[(String, String, Long, Long)].collect()
    assert(out.toSeq === Seq(
      ("x", "2024-01-01", 3000000L, 1L),
      ("x", "2024-01-02", 7000000L, 2L),
      ("x", "2024-01-05", 12000000L, 2L), // frame is 2 ROWS: days 2+5
      ("y", "2024-01-01", 100000000L, 1L)))
  }

  test("audienceOverlap reports exact intersections and Jaccard per type pair") {
    val events = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"),
      (2L, "b"), (3L, "b"), (4L, "b"),
      (1L, "a") // duplicate activity must not double-count
    ).toDF("user_id", "event_type")
    val out = TimeSeries.audienceOverlap(events, col("event_type"), col("user_id"))
      .select(col("et_a"), col("et_b"), col("n_both"), col("users_a"),
        col("users_b"), col("jaccard"))
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq(("a", "b", 2L, 3L, 3L, 0.5)))
  }

  test("maxIntersections finds the peak across day boundaries with half-open intervals") {
    import graft.ops.Intervals
    // i1 spans the midnight boundary (23:00 day1 → 02:00 day2); i2 and
    // i3 overlap it inside day 2 → peak 3 at 00:30. i4's start equals
    // i3's end exactly — half-open, must NOT push the peak to 4.
    val iv = Seq(
      (ts("2024-01-01 23:00:00"), ts("2024-01-02 02:00:00")), // i1
      (ts("2024-01-02 00:10:00"), ts("2024-01-02 01:00:00")), // i2
      (ts("2024-01-02 00:30:00"), ts("2024-01-02 00:45:00")), // i3
      (ts("2024-01-02 00:45:00"), ts("2024-01-02 00:50:00"))  // i4
    ).toDF("s", "e")
    val out = Intervals.maxIntersections(iv, col("s"), col("e"))
      .as[(Long, String)].collect()
    assert(out.toSeq === Seq((3L, "2024-01-02 00:30:00.000000")))
  }

  test("maxIntersections on empty input returns no rows (not one null row)") {
    import graft.ops.Intervals
    val iv = Seq.empty[(java.sql.Timestamp, java.sql.Timestamp)].toDF("s", "e")
    assert(Intervals.maxIntersections(iv, col("s"), col("e")).count() === 0L)
  }

  test("maxIntersections carry-in: a quiet day still inherits open intervals") {
    import graft.ops.Intervals
    // one interval open across THREE days; a second interval entirely
    // inside the middle day → peak 2 occurs on the middle day even
    // though that day's own net delta is 0
    val iv = Seq(
      (ts("2024-01-01 12:00:00"), ts("2024-01-03 12:00:00")),
      (ts("2024-01-02 06:00:00"), ts("2024-01-02 07:00:00"))
    ).toDF("s", "e")
    val out = Intervals.maxIntersections(iv, col("s"), col("e"))
      .as[(Long, String)].collect()
    assert(out.toSeq === Seq((2L, "2024-01-02 06:00:00.000000")))
  }

  test("intervalLengthSum merges overlaps, counts touching intervals once") {
    import graft.ops.Intervals
    val iv = Seq(
      // k1: [0,10) ∪ [5,20) ∪ [20,25) — overlap merged, touching edge
      // not double-counted → 25 s covered
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:10")),
      (1L, ts("2024-01-01 00:00:05"), ts("2024-01-01 00:00:20")),
      (1L, ts("2024-01-01 00:00:20"), ts("2024-01-01 00:00:25")),
      // k1 also has an interval fully INSIDE an earlier one → adds 0
      (1L, ts("2024-01-01 00:00:06"), ts("2024-01-01 00:00:08")),
      // k2: two disjoint intervals → lengths add
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:03")),
      (2L, ts("2024-01-01 00:01:00"), ts("2024-01-01 00:01:04"))
    ).toDF("k", "s", "e")
    val out = Intervals.intervalLengthSum(iv, col("k"), col("s"), col("e"))
      .orderBy(col("k")).as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 25000000L, 4L), (2L, 7000000L, 2L)))
  }

  test("deltaSum accumulates only positive steps; first row contributes zero") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 0L, 10.0), // first: no delta
      (1L, ts("2024-01-01 00:01:00"), 1L, 15.0), // +5
      (1L, ts("2024-01-01 00:02:00"), 2L, 3.0),  // reset: ignored
      (1L, ts("2024-01-01 00:03:00"), 3L, 9.0),  // +6
      (2L, ts("2024-01-01 00:00:00"), 4L, 42.0)  // single row → 0
    ).toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.deltaSum(events, col("user_id"), col("ts"),
      col("event_id"), round(col("value") * 1e6, 0).cast("long"))
      .orderBy(col("k")).as[(Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 11000000L, 4L), (2L, 0L, 1L)))
  }

  test("pathTrigrams counts consecutive per-user triples, never crossing users") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 0L, "view"),
      (1L, ts("2024-01-01 00:01:00"), 1L, "click"),
      (1L, ts("2024-01-01 00:02:00"), 2L, "purchase"),
      (1L, ts("2024-01-01 00:03:00"), 3L, "view"),   // second trigram
      (2L, ts("2024-01-01 00:00:00"), 4L, "view"),   // u2 has only 2 events
      (2L, ts("2024-01-01 00:01:00"), 5L, "click")   // → no trigram emitted
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.pathTrigrams(events, col("user_id"), col("ts"),
      col("event_id"), col("event_type"))
      .orderBy(col("a"), col("b"), col("c"))
      .as[(String, String, String, Long)].collect()
    assert(out.toSeq === Seq(
      ("click", "purchase", "view", 1L),
      ("view", "click", "purchase", 1L)))
  }

  test("uniqUpTo is exact below the cap and saturates at N+1 under any partitioning") {
    val df = (0 until 2000).map(i => (i % 500).toLong).toDF("v")
    for (parts <- Seq(1, 7, 32)) {
      val r = df.repartition(parts)
        .agg(expr("uniq_up_to(v, 100)").as("a"),
          expr("uniq_up_to(v, 1000)").as("b"))
        .as[(Long, Long)].head()
      assert(r === ((101L, 500L)), s"parts=$parts")
    }
  }

  test("m4Downsample keeps min/max/first/last per bucket, ties broken by tiebreak") {
    val events = Seq(
      // one key, one hour bucket: first=5 (ts order), max=9, min=1, last=4
      ("x", ts("2024-01-01 00:00:01"), 0L, 5.0),
      ("x", ts("2024-01-01 00:10:00"), 1L, 9.0),
      ("x", ts("2024-01-01 00:20:00"), 2L, 1.0),
      ("x", ts("2024-01-01 00:30:00"), 3L, 4.0),
      // equal-ts pair in the NEXT bucket: event_id orders first/last
      ("x", ts("2024-01-01 01:00:00"), 4L, 7.0),
      ("x", ts("2024-01-01 01:00:00"), 5L, 2.0)
    ).toDF("event_type", "ts", "event_id", "value")
    val out = graft.ops.TimeSeries.m4Downsample(events, col("event_type"),
      col("ts"), col("event_id"), round(col("value") * 1e6, 0).cast("long"),
      bucketUs = 3600000000L)
      .orderBy(col("bkt"))
      .select(col("v_min"), col("v_max"), col("v_first"), col("v_last"), col("n"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      (1000000L, 9000000L, 5000000L, 4000000L, 4L),
      (2000000L, 7000000L, 7000000L, 2000000L, 2L)))
  }

  test("timeWeightedAvg holds each sample until the next; single-sample keys emit nothing") {
    val events = Seq(
      // k1: v=10 for 30 s, then v=20 for 10 s → (10·30 + 20·10)/40 = 12.5
      (1L, ts("2024-01-01 00:00:00"), 0L, 10.0),
      (1L, ts("2024-01-01 00:00:30"), 1L, 20.0),
      (1L, ts("2024-01-01 00:00:40"), 2L, 99.0), // last sample: no dt
      (2L, ts("2024-01-01 00:00:00"), 3L, 42.0)  // single sample → no row
    ).toDF("user_id", "ts", "event_id", "value")
    val out = graft.ops.TimeSeries.timeWeightedAvg(events, col("user_id"),
      col("ts"), col("event_id"), round(col("value") * 1e3, 0).cast("long"))
      .select(col("k"), col("tw_num"), col("tw_den"), col("tw_avg"))
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 500000L, 40L, 12500.0)))
  }

  test("sequenceCountRestart: ClickHouse restart-after-match semantics on A,A,B,B") {
    def mk(u: Long, rows: (String, Int)*) = rows.zipWithIndex.map {
      case ((et, min), i) => (u, ts(f"2024-01-01 00:$min%02d:00"), i.toLong, et)
    }
    // u1: A A B B → 1 under restart (maximum matching gives 2)
    // u2: A B A B → 2 (two adjacencies)
    // u3: B A B B A B → 2 (adjacencies at positions 2-3 and 5-6)
    // u4: A A A → 0; u5: B → 0 (still emitted — in the A/B universe)
    val events = (mk(1L, "A" -> 0, "A" -> 1, "B" -> 2, "B" -> 3) ++
      mk(2L, "A" -> 0, "B" -> 1, "A" -> 2, "B" -> 3) ++
      mk(3L, "B" -> 0, "A" -> 1, "B" -> 2, "B" -> 3, "A" -> 4, "B" -> 5) ++
      mk(4L, "A" -> 0, "A" -> 1, "A" -> 2) ++
      mk(5L, "B" -> 0))
      .toDF("user_id", "ts", "event_id", "event_type")
    val restart = TimeSeries.sequenceCountRestart(events, col("user_id"),
      col("ts"), col("event_id"),
      col("event_type") === "A", col("event_type") === "B")
      .orderBy(col("u")).as[(Long, Long)].collect()
    assert(restart.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 0L), (5L, 0L)))
    // the documented divergence: maximum matching counts A,A,B,B as 2
    val maxMatch = TimeSeries.sequenceCountPairs(events, col("user_id"),
      col("ts"), col("event_id"),
      col("event_type") === "A", col("event_type") === "B")
      .filter(col("u") === 1L).select(col("matches")).as[Long].head()
    assert(maxMatch === 2L)
  }

  test("sequenceCountRestart boundary adjacency: last-A-of-bucket → first-B-of-next") {
    // A at 00:00:59, B at 00:01:01 — different MINUTE buckets; the
    // adjacency exists only via the phase-2 boundary check
    val events = Seq(
      (1L, ts("2024-01-01 00:00:59"), 0L, "A"),
      (1L, ts("2024-01-01 00:01:01"), 1L, "B"),
      // a second A→B pair entirely inside one bucket
      (1L, ts("2024-01-01 00:05:01"), 2L, "A"),
      (1L, ts("2024-01-01 00:05:02"), 3L, "B")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.sequenceCountRestart(events, col("user_id"),
      col("ts"), col("event_id"),
      col("event_type") === "A", col("event_type") === "B",
      bucket = t => date_trunc("MINUTE", t))
      .as[(Long, Long)].head()
    assert(out === ((1L, 2L)))
  }

  test("two-phase bucket forms agree with the single-segment plan on a random stream") {
    // 600 events, 5 users (u0 owns half — the planted hot key), values
    // and types pseudo-random, spread over ~2 hours so MINUTE buckets
    // cut many boundaries (including 1-row and empty buckets). Each
    // operator must produce bit-identical results with fine buckets
    // (many carries) and with a constant bucket (one segment — the
    // naive single-window plan, which IS the spec).
    val events = spark.range(0, 600).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(col("id") * 7L, lit(5))).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(col("id") * 7919L, lit(7200L * 1000000L))).as("ts"),
      col("id").as("event_id"),
      pmod(col("id") * 31L, lit(1000L)).as("v"),
      when(pmod(col("id") * 13L, lit(3)) === 0, lit("A"))
        .otherwise(lit("B")).as("event_type"))
      .cache()
    val fine: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => date_trunc("MINUTE", t)
    val one: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ => lit(0)

    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    assert(sorted(TimeSeries.deltaSum(events, col("user_id"), col("ts"),
        col("event_id"), col("v"), fine)) ===
      sorted(TimeSeries.deltaSum(events, col("user_id"), col("ts"),
        col("event_id"), col("v"), one)))
    assert(sorted(TimeSeries.timeWeightedAvg(events, col("user_id"), col("ts"),
        col("event_id"), col("v"), fine)) ===
      sorted(TimeSeries.timeWeightedAvg(events, col("user_id"), col("ts"),
        col("event_id"), col("v"), one)))
    assert(sorted(TimeSeries.pathTrigrams(events, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), fine)) ===
      sorted(TimeSeries.pathTrigrams(events, col("user_id"), col("ts"),
        col("event_id"), col("event_type"), one)))
    assert(sorted(TimeSeries.sequenceCountRestart(events, col("user_id"),
        col("ts"), col("event_id"), col("event_type") === "A",
        col("event_type") === "B", fine)) ===
      sorted(TimeSeries.sequenceCountRestart(events, col("user_id"),
        col("ts"), col("event_id"), col("event_type") === "A",
        col("event_type") === "B", one)))
    val endCol = expr("timestampadd(MICROSECOND, CAST(v * 1000000 + 1 AS BIGINT), ts)")
    assert(sorted(graft.ops.Intervals.intervalLengthSum(events, col("user_id"),
        col("ts"), endCol, fine)) ===
      sorted(graft.ops.Intervals.intervalLengthSum(events, col("user_id"),
        col("ts"), endCol, one)))
    events.unpersist()
  }

  test("pathTrigrams boundary trigrams span two and three 1-row buckets") {
    // u1's four events land in FOUR distinct minutes → every bucket is
    // a single row; all trigrams are boundary trigrams assembled from
    // two leads of 1-element first2 arrays
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 0L, "a"),
      (1L, ts("2024-01-01 00:01:00"), 1L, "b"),
      (1L, ts("2024-01-01 00:02:00"), 2L, "c"),
      (1L, ts("2024-01-01 00:03:00"), 3L, "d")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.pathTrigrams(events, col("user_id"), col("ts"),
      col("event_id"), col("event_type"),
      bucket = t => date_trunc("MINUTE", t))
      .orderBy(col("a")).as[(String, String, String, Long)].collect()
    assert(out.toSeq === Seq(("a", "b", "c", 1L), ("b", "c", "d", 1L)))
  }

  test("intervalLengthSum carry: an early long interval covers later buckets") {
    // k1: [00:00, 00:10) spans ten MINUTE buckets; later intervals at
    // 00:03 and 00:07 are fully covered (add 0 via the carry max), and
    // one at 00:09:30–00:11:00 extends coverage by 60 s beyond 00:10
    val iv = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 00:03:00"), ts("2024-01-01 00:03:30")),
      (1L, ts("2024-01-01 00:07:00"), ts("2024-01-01 00:08:00")),
      (1L, ts("2024-01-01 00:09:30"), ts("2024-01-01 00:11:00"))
    ).toDF("k", "s", "e")
    val out = graft.ops.Intervals.intervalLengthSum(iv, col("k"), col("s"),
      col("e"), bucket = t => date_trunc("MINUTE", t))
      .as[(Long, Long, Long)].head()
    assert(out === ((1L, 660000000L, 4L)))
  }

  test("weightedQuantiles is invariant to bucketWidth and never sorts globally") {
    val df = Seq((1L, 1L), (2L, 2L), (3L, 1L), (10L, 4L), (1000L, 4L))
      .toDF("v", "w")
    val qs = Seq(1 -> 4, 1 -> 2, 3 -> 4, 1 -> 1)
    def run(width: Long) =
      TimeSeries.weightedQuantiles(df, col("v"), col("w"), qs, width)
        .orderBy(col("q_num").cast("double") / col("q_den"))
        .select(col("value")).as[Long].collect().toSeq
    // W=12 over cum weights (1,3,4,8,12): ranks 3,6,9,12 → 2,10,1000,1000
    val expected = run(1L << 20)
    assert(expected === Seq(2L, 10L, 1000L, 1000L))
    assert(run(1L) === expected)   // every distinct value its own bucket
    assert(run(3L) === expected)   // buckets split mid-run
    assert(run(10000L) === expected)
  }

  test("retention counts cond1 users and their cond-i intersections") {
    val events = Seq(
      (1L, "view"), (1L, "click"),                  // view+click
      (2L, "view"), (2L, "purchase"),               // view+purchase
      (3L, "click"), (3L, "purchase"),              // no view → excluded
      (4L, "view")                                  // view only
    ).toDF("user_id", "event_type")
    val out = TimeSeries.retention(events, col("user_id"),
      Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"))
      .as[(Long, Long, Long)].head()
    assert(out === ((3L, 1L, 1L)))
  }

  test("m4 partials merge to the one-shot downsample under any chunking") {
    val events = spark.range(0, 200).select(
      lit("x").as("k"),
      timestamp_micros(lit(1700000000000000L) +
        col("id") * lit(1800000000L)).as("ts"), // every 30 min
      col("id").as("event_id"),
      pmod(hash(col("id")), lit(1000L)).as("v"))
    val oneShot = TimeSeries.m4Downsample(events, col("k"), col("ts"),
      col("event_id"), col("v"), bucketUs = 86400000000L)
      .collect().map(_.toString).toSeq.sorted
    for (chunks <- Seq(2, 3, 7)) {
      val parts = (0 until chunks).map(i =>
        TimeSeries.m4Partial(events.filter(pmod(col("event_id"), lit(chunks)) === i),
          col("k"), col("ts"), col("event_id"), col("v"),
          bucketUs = 86400000000L)).reduce(_ unionAll _)
      val merged = TimeSeries.m4FromPartials(parts)
        .collect().map(_.toString).toSeq.sorted
      assert(merged === oneShot, s"chunking $chunks diverged")
    }
  }

  test("momentStats power sums are exact and partitioning-independent") {
    val df = Seq((1L, 10L, 3L), (1L, -20L, 5L), (1L, 30L, 7L), (2L, 4L, 1L))
      .toDF("k", "v", "u")
    for (parts <- Seq(1, 4)) {
      val r = TimeSeries.momentStats(df.repartition(parts), col("k"),
        col("v"), col("u"))
        .filter(col("k") === 1L)
        .select(col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
        .as[(Long, String, String, String, String)].head()
      // Σv = 20, Σv² = 1400, Σv³ = 20000 (1000−8000+27000),
      // Σv⁴ = 10000 + 160000 + 810000 = 980000
      assert(r === ((3L, "20", "1400", "20000", "980000")), s"parts=$parts")
    }
  }

  test("sumMap emits one sorted map-key:sum entry per distinct map key") {
    val events = Seq(
      (1L, "view", 1.5), (1L, "click", 2.0), (1L, "view", 0.5),
      (2L, "click", 1.0)
    ).toDF("user_id", "event_type", "value")
    val out = TimeSeries.sumMap(events, col("user_id"), col("event_type"),
      round(col("value") * 1e6, 0).cast("long"))
      .orderBy(col("k")).as[(Long, String)].collect()
    assert(out.toSeq === Seq(
      (1L, "click:2000000,view:2000000"),
      (2L, "click:1000000")))
  }

  test("lttb: edge points kept, middle bucket picks max-area vs neighbor centroids") {
    // key a, 1-minute buckets over non-adjacent times (a GAP between
    // bucket 0 and bucket 5 — index adjacency must bridge it):
    //  bucket 0 (first): points at :00 (v=0) and :30 (v=100) → first
    //    point (:00, 0) is kept
    //  bucket 5 (middle): prev centroid = bucket 0 (x̄=15s, ȳ=50),
    //    next centroid = bucket 9; candidates v = 0 / 1000 / 0 —
    //    the spike at 1000 dominates the triangle area
    //  bucket 9 (last): last point kept
    val us = 60L * 1000000L
    // base must sit ON a bucket boundary (divisible by 60) so the
    // constructed bucket indices line up
    def t(bucket: Long, sec: Long) =
      new java.sql.Timestamp((1700000040L + bucket * 60 + sec) * 1000L)
    val rows = Seq(
      (1L, t(0, 0), 0L), (2L, t(0, 30), 100L),
      (3L, t(5, 0), 0L), (4L, t(5, 20), 1000L), (5L, t(5, 40), 0L),
      (6L, t(9, 0), 50L), (7L, t(9, 30), 60L))
    val df = rows.toDF("event_id", "ts", "v")
      .select(lit("a").as("et"), col("ts"), col("event_id"), col("v"))
    val out = TimeSeries.lttb(df, col("et"), col("ts"), col("event_id"),
        col("v"), bucketUs = us)
      .orderBy(col("bkt"))
      .collect().map(r => (r.getAs[Long]("tu"), r.getAs[Long]("v")))
    val base = 1700000040L * 1000000L
    assert(out.toSeq === Seq(
      (base, 0L),                          // bucket 0: first point
      (base + (5 * 60 + 20) * 1000000L, 1000L), // bucket 5: the spike
      (base + (9 * 60 + 30) * 1000000L, 60L)))  // bucket 9: last point
  }

  test("lttb: single-bucket series returns its first point; two buckets return edges") {
    val us = 60L * 1000000L
    def t(sec: Long) = new java.sql.Timestamp((1700000000L + sec) * 1000L)
    val one = Seq((1L, t(0), 7L), (2L, t(10), 9L))
      .toDF("event_id", "ts", "v")
      .select(lit("a").as("et"), col("ts"), col("event_id"), col("v"))
    val o1 = TimeSeries.lttb(one, col("et"), col("ts"), col("event_id"),
      col("v"), us).collect().map(r => r.getAs[Long]("v"))
    assert(o1.toSeq === Seq(7L))
    val two = Seq((1L, t(0), 7L), (2L, t(10), 9L), (3L, t(70), 3L))
      .toDF("event_id", "ts", "v")
      .select(lit("a").as("et"), col("ts"), col("event_id"), col("v"))
    val o2 = TimeSeries.lttb(two, col("et"), col("ts"), col("event_id"),
      col("v"), us).orderBy(col("bkt")).collect()
      .map(r => r.getAs[Long]("v"))
    assert(o2.toSeq === Seq(7L, 3L)) // first point, last point — no middles
  }

  test("sequenceMatchGapUsers: viable-set DP beats greedy; strict bounds; bucket-invariant") {
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // u1 is the GREEDY KILLER: A at 0 and 100; B at 50; C at 140.
    //   greedy takes A@0 → B needs gap>50... with gap 60s: A@0→B@50 ok
    //   (50<60), then C@140 needs B in (80,140): B@50 fails → greedy
    //   says no. The viable-set DP also says no here UNLESS a later B
    //   exists. Add B@90 (from A@100? no A@100 is after). B@90 viable
    //   via A@40? Plant: A@0, A@40, B@90, C@140 with gap 60:
    //   viable B: B@90 needs A in (30,90) → A@40 ✓.
    //   viable C: C@140 needs viable B in (80,140) → B@90 ✓ → match.
    //   Greedy (earliest chain): A@0 → first B after 0 within... t2=90
    //   but 90-0=90 ≥ 60 → greedy-from-min-t1 FAILS. DP matches.
    // u2: chain broken — gap too large between B and C.
    // u3: strictness — B exactly gap after A is NOT a match (t<gap
    //   strict); B at gap-1 is.
    val gapUs = 60L * 1000000L
    val rows = Seq(
      (1L, ts(0), "A"), (1L, ts(40), "A"), (1L, ts(90), "B"), (1L, ts(140), "C"),
      (2L, ts(0), "A"), (2L, ts(10), "B"), (2L, ts(500), "C"),
      (3L, ts(0), "A"), (3L, ts(60), "B"), (3L, ts(100), "C"))
    val df = rows.toDF("user_id", "ts", "et")
    def conds = Seq(col("et") === "A", col("et") === "B", col("et") === "C")
    for (bw <- Seq(1000000L, 25000000L, 3600000000L)) {
      val out = TimeSeries.sequenceMatchGapUsers(df, col("user_id"),
          col("ts"), conds, gapUs, bucketUs = bw)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out === Map(1L -> true, 2L -> false, 3L -> false), s"bw=$bw")
    }
    // u3 with B one µs inside the fence matches
    val df3 = Seq((3L, ts(0), "A"), (3L, ts(59), "B"), (3L, ts(100), "C"))
      .toDF("user_id", "ts", "et")
    val o3 = TimeSeries.sequenceMatchGapUsers(df3, col("user_id"), col("ts"),
      conds, gapUs).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(o3 === Map(3L -> true))
  }

  test("sequenceMatchStrictOrderUsers: interposers break, later chains rescue, bucket-invariant") {
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // u1: A B C consecutive → match
    // u2: A X B C — X between A and B breaks that chain and no other
    //     A exists → no match (X is a non-step input event)
    // u3: A X B A B C — first A is broken by X, but the SECOND A at
    //     t=40 chains A(40) B(50) C(60) consecutively → match
    //     (the greedy-killer: earliest-A logic would fail)
    // u4: A B X C — break between B and C → no match
    val rows = Seq(
      (1L, t(0), "A"), (1L, t(10), "B"), (1L, t(20), "C"),
      (2L, t(0), "A"), (2L, t(10), "X"), (2L, t(20), "B"), (2L, t(30), "C"),
      (3L, t(0), "A"), (3L, t(10), "X"), (3L, t(20), "B"),
      (3L, t(40), "A"), (3L, t(50), "B"), (3L, t(60), "C"),
      (4L, t(0), "A"), (4L, t(10), "B"), (4L, t(20), "X"), (4L, t(30), "C"))
    val df = rows.toDF("user_id", "ts", "et")
    def conds = Seq(col("et") === "A", col("et") === "B", col("et") === "C")
    for (bw <- Seq(5000000L, 15000000L, 3600000000L)) {
      val out = TimeSeries.sequenceMatchStrictOrderUsers(df, col("user_id"),
          col("ts"), conds, bucketUs = bw)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(out === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false),
        s"bw=$bw")
    }
  }

  test("periodDetect finds a planted 7-cycle; stlDecompose reconstructs it exactly") {
    import graft.ops.Seasonal
    val bucketUs = 1000000L
    val rows = (0 until 70).map(b =>
      ("k", b.toLong, if (b % 7 == 0) 700L else 0L))
    val df = rows.toDF("key", "b", "v")
      .select(col("key"), timestamp_micros(col("b") * bucketUs).as("ts"),
        col("v"))
    val pd = Seasonal.periodDetect(df, col("key"), col("ts"), col("v"),
      bucketUs, maxLag = 20).collect().head
    // acf is exactly 1 at lags 7 and 14 — the smallest-lag tiebreak
    // must pick the fundamental
    assert(pd.getAs[Long]("period") === 7L)
    assert(math.abs(pd.getAs[Double]("acf") - 1.0) < 1e-9)

    val stl = Seasonal.stlDecompose(df, col("key"), col("ts"), col("v"),
      bucketUs, period = 7).collect()
    assert(stl.length === 70)
    val (valid, edges) = stl.partition(!_.isNullAt(3))
    assert(edges.length === 6, "±3 edge rows on each end lack a full window")
    valid.foreach { r =>
      val v = r.getAs[Long]("v")
      assert(r.getAs[Double]("trend") === 100.0) // one spike per window
      assert(r.getAs[Double]("seasonal") === (if (v == 700L) 600.0 else -100.0))
      assert(r.getAs[Double]("resid") === 0.0)
    }
  }

  test("seasonalNaiveEval: perfect cycle scores 0; hand-checked MAE/sMAPE") {
    import graft.ops.Seasonal
    val bucketUs = 1000000L
    def series(vs: Seq[Long]) = vs.zipWithIndex
      .map { case (v, b) => ("k", b.toLong, v) }.toDF("key", "b", "v")
      .select(col("key"), timestamp_micros(col("b") * bucketUs).as("ts"),
        col("v"))
    // exactly periodic → every error 0
    val perfect = Seasonal.seasonalNaiveEval(
      series(Seq(5L, 9L, 5L, 9L, 5L, 9L)), col("key"), col("ts"), col("v"),
      bucketUs, period = 2).collect().head
    assert(perfect.getAs[Long]("m") === 4L)
    assert(perfect.getAs[Double]("mae") === 0.0 &&
      perfect.getAs[Double]("smape") === 0.0)
    // [10,0,10,0,12] period 2: only b4 errs (|12-10|=2, den 22) →
    // m=3, sae=2, mae=2/3, smape=(2·2/22)/3
    val r = Seasonal.seasonalNaiveEval(
      series(Seq(10L, 0L, 10L, 0L, 12L)), col("key"), col("ts"), col("v"),
      bucketUs, period = 2).collect().head
    assert(r.getAs[Long]("m") === 3L && r.getAs[String]("sae") === "2")
    assert(r.getAs[Double]("mae") === 0.666667)
    assert(r.getAs[Double]("smape") === 0.060606)
  }

  test("stlAnomalies flags only the bucket that departs from the seasonal norm") {
    import graft.ops.Seasonal
    val bucketUs = 1000000L
    // perfect 7-cycle plus ONE corrupted bucket (b=31 carries 7000
    // instead of the seasonal 700): every other residual is ~0, so the
    // 3σ fence isolates the neighborhood of the spike
    val rows = (0 until 70).map { b =>
      val v = if (b == 31) 7000L else if (b % 7 == 3) 700L else 0L
      ("k", b.toLong, v)
    }
    val df = rows.toDF("key", "b", "v")
      .select(col("key"), timestamp_micros(col("b") * bucketUs).as("ts"),
        col("v"))
    val hits = Seasonal.stlAnomalies(df, col("key"), col("ts"), col("v"),
      bucketUs, period = 7).collect().map(_.getAs[Long]("b"))
    assert(hits.contains(31L), s"corrupted bucket missed: ${hits.toSeq}")
    // the anomaly bleeds into at most the MA window around it
    assert(hits.forall(b => math.abs(b - 31L) <= 3), hits.toSeq.toString)
  }

  test("interpolatedQuantiles: matches R type-7/type-6 on hand samples") {
    import spark.implicits._
    // values 10,20,30,40 (n=4)
    val df = Seq(10L, 20L, 30L, 40L).toDF("v")
    val inc = TimeSeries.interpolatedQuantiles(df, col("v"),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 0 -> 1, 1 -> 1))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // type-7: h = (n-1)p -> q25 at h=0.75 => 10 + 0.75*10 = 17.5
    assert(inc((1, 4)) === 17.5)
    assert(inc((1, 2)) === 25.0)
    assert(inc((3, 4)) === 32.5)
    assert(inc((0, 1)) === 10.0 && inc((1, 1)) === 40.0)
    // type-6: h = (n+1)p - 1 -> q25 at h=0.25 => 12.5; q75 at 2.75 => 37.5
    val exc = TimeSeries.interpolatedQuantiles(df, col("v"),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 0 -> 1, 1 -> 1), exclusive = true)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(exc((1, 4)) === 12.5)
    assert(exc((1, 2)) === 25.0)
    assert(exc((3, 4)) === 37.5)
    // exclusive rank clamps at the extremes
    assert(exc((0, 1)) === 10.0 && exc((1, 1)) === 40.0)
    // duplicates collapse into the cumulative weights, ranks still exact
    val dup = Seq(1L, 1L, 1L, 5L).toDF("v")
    val d = TimeSeries.interpolatedQuantiles(dup, col("v"), Seq(1 -> 2))
      .head().getDouble(2)
    assert(d === 1.0) // h = 1.5 sits between the 2nd and 3rd ones
    // bucket-boundary invariance: a tiny bucket width changes no answer
    val fine = TimeSeries.interpolatedQuantiles(df, col("v"),
        Seq(1 -> 4, 3 -> 4), bucketWidth = 7L)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(fine((1, 4)) === 17.5 && fine((3, 4)) === 32.5)
  }

  test("interpolatedQuantilesBy: per-key type-7, keys fully isolated") {
    import spark.implicits._
    val df = (Seq(10L, 20L, 30L, 40L).map(("a", _)) ++
      Seq(100L, 200L).map(("b", _))).toDF("k", "v")
    val out = TimeSeries.interpolatedQuantilesBy(df, col("k"), col("v"),
        Seq(1 -> 4, 1 -> 2))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    assert(out(("a", 1, 4)) === 17.5 && out(("a", 1, 2)) === 25.0)
    // b has n=2: h(p=.25)=0.25 -> 100+0.25*100=125; h(.5)=0.5 -> 150
    assert(out(("b", 1, 4)) === 125.0 && out(("b", 1, 2)) === 150.0)
    // grouped answers == per-key global answers (key isolation)
    val aOnly = TimeSeries.interpolatedQuantiles(
        df.filter(col("k") === "a").select(col("v")), col("v"),
        Seq(1 -> 4, 1 -> 2))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(aOnly((1, 4)) === out(("a", 1, 4)))
    assert(aOnly((1, 2)) === out(("a", 1, 2)))
  }

  test("interpolatedQuantilesWeighted: type-7 on the unit-expanded multiset") {
    import spark.implicits._
    // (v=10, w=3), (v=20, w=1) expands to 10,10,10,20 (n=4):
    // median h = 1.5 -> between two 10s -> 10; q75 h = 2.25 -> 12.5
    val df = Seq((10L, 3L), (20L, 1L)).toDF("v", "w")
    val out = TimeSeries.interpolatedQuantilesWeighted(df, col("v"),
        col("w"), Seq(1 -> 2, 3 -> 4))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out((1, 2)) === 10.0)
    assert(out((3, 4)) === 12.5)
    // weight 1 everywhere == the unweighted form, bit-identical
    val flat = Seq(10L, 20L, 30L, 40L).toDF("v")
    val wq = TimeSeries.interpolatedQuantilesWeighted(flat, col("v"),
        lit(1L), Seq(1 -> 4, 3 -> 4))
      .collect().map(_.toSeq).toSet
    val uq = TimeSeries.interpolatedQuantiles(flat, col("v"),
        Seq(1 -> 4, 3 -> 4))
      .collect().map(_.toSeq).toSet
    assert(wq === uq)
  }

  test("expTimeDecayed bucket partials merge to the one-shot under any batch split") {
    val events = spark.range(0, 500).select(
      pmod(col("id"), lit(7L)).as("k"),
      timestamp_micros(lit(1700000000000000L) +
        col("id") * lit(1800000000L)).as("ts"), // every 30 min
      col("id").as("event_id"),
      pmod(hash(col("id")), lit(100000L)).as("v"))
    val oneShot = TimeSeries.expTimeDecayed(events, col("k"), col("ts"),
        col("v"), halfLifeSeconds = 86400L)
      .collect().map(_.toString).toSeq.sorted
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    for (chunks <- Seq(2, 5)) {
      // per-chunk bucket partials, merged with the additive combinators
      // (sum/sum/max) an AggregatingStore part-union read applies
      val parts = (0 until chunks).map { i =>
        events.filter(pmod(col("event_id"), lit(chunks)) === i)
          .select(col("k"), unix_micros(col("ts")).as("tu"), col("v"))
          .withColumn("b", expr(s"tu div ${86400L * 1000000L}"))
          .groupBy(col("k"), col("b"))
          .agg(sum(col("v").cast(dec38)).as("s"),
            count(lit(1)).cast(dec38).as("c"), max(col("v")).as("mx"))
      }.reduce(_ unionAll _)
      val merged = parts.groupBy(col("k"), col("b"))
        .agg(sum(col("s")).cast(dec38).as("s"),
          sum(col("c")).cast(dec38).as("c"), max(col("mx")).as("mx"))
      val out = TimeSeries.expTimeDecayedFromBuckets(merged)
        .collect().map(_.toString).toSeq.sorted
      assert(out === oneShot, s"batch split $chunks diverged")
    }
  }

  test("expTimeDecayed: dyadic half-life grid weights, cap, null-skip") {
    // 1 h half-life; epoch-hour grid. Key 1: one event 2 buckets back
    // (weight 2^-2) and two in the newest bucket (weight 1).
    val events = Seq(
      (1L, ts("2024-03-01 00:30:00"), 1.0),
      (1L, ts("2024-03-01 02:30:00"), 2.0),
      (1L, ts("2024-03-01 02:45:00"), 4.0),
      // key 2: single event — all aggregates equal the event itself
      (2L, ts("2024-03-01 05:00:00"), 10.0),
      // key 3: 25 half-lives of gap > cap 20 → the old event weighs 0
      (3L, ts("2024-03-01 00:10:00"), 100.0),
      (3L, ts("2024-03-02 01:10:00"), 3.0))
      .toDF("k", "t", "v")
    val nulled = events.union(Seq((1L, null.asInstanceOf[Timestamp], 99.0))
      .toDF("k", "t", "v"))
    val out = TimeSeries.expTimeDecayed(nulled, col("k"), col("t"),
        round(col("v") * 1e3, 0).cast("long"), halfLifeSeconds = 3600L)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(1L)._1 === 1.0 / 4 + 2.0 + 4.0) // decayed_sum = 6.25
    assert(out(1L)._2 === 2.25) // decayed_cnt
    assert(math.abs(out(1L)._3 - 6.25 / 2.25) < 1e-12) // decayed_avg
    assert(out(1L)._4 === 4.0) // decayed_max (the old 1.0 weighs 0.25)
    assert(out(2L) === ((10.0, 1.0, 10.0, 10.0)))
    assert(out(3L) === ((3.0, 1.0, 3.0, 3.0))) // capped history dropped
  }
}
