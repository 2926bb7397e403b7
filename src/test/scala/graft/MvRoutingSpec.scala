package graft

import org.apache.spark.sql.functions._

import graft.ops.Rollups
import graft.plans.MvRouting
import graft.sources.Workload

/** The MV-routing optimizer rule: hourly-rollup-shaped aggregates over
  * the fact table are rewritten onto the precomputed rollup; filtered
  * or foreign-shaped queries are left alone. */
class MvRoutingSpec extends SparkSpec {

  private lazy val (factPath, mvPath) = {
    val base = tmpDir("mv")
    val fact = Workload.batch(spark, 20000)
      .select(col("event_ts"),
        element_at(array(lit("podcast"), lit("video"), lit("newsletter")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("content_type"),
        col("event_type"),
        graft.functions.Engagement
          .engagementScore(col("event_type"), col("duration_ms")).as("engagement_score"))
    fact.write.parquet(s"$base/fact")
    val factDf = spark.read.parquet(s"$base/fact")
    Rollups.hourlyRollupMv(factDf, col("event_ts"),
        Seq(col("content_type"), col("event_type")), col("engagement_score"))
      .write.parquet(s"$base/mv")
    (s"$base/fact", s"$base/mv")
  }

  private def withRule[T](f: => T): T = {
    val rule = MvRouting(spark, factPath, mvPath)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
    }
  }

  private def rollupQuery() =
    spark.read.parquet(factPath)
      .groupBy(date_trunc("hour", col("event_ts")).as("hour_ts"),
        col("content_type"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Rollups.decSum(col("engagement_score")).as("score_sum"))

  test("matching aggregate routes to the MV and results are identical") {
    val direct = rollupQuery().collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    withRule {
      val routed = rollupQuery()
      val physical = routed.queryExecution.executedPlan.toString()
      assert(physical.contains(mvPath), "plan must scan the MV")
      assert(!physical.contains(factPath), "plan must not scan the fact table")
      val got = routed.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got === direct)
    }
  }

  test("coarser grouping (event_type only) still routes and re-aggregates") {
    val q = spark.read.parquet(factPath).groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val direct = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    withRule {
      val routed = spark.read.parquet(factPath).groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      assert(routed.queryExecution.executedPlan.toString().contains(mvPath))
      assert(routed.collect().map(r => (r.getString(0), r.getLong(1))).toSet === direct)
    }
  }

  test("filtered aggregate does NOT route (the MV cannot answer it)") {
    withRule {
      val q = spark.read.parquet(factPath)
        .filter(col("content_type") === "podcast")
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val physical = q.queryExecution.executedPlan.toString()
      assert(physical.contains(factPath), "filtered query must hit the fact table")
    }
  }

  test("daily re-trunc routes onto the hourly MV and stays exact") {
    // date_trunc('day') composes over the MV's hour trunc; the decimal
    // re-sum keeps the coarser re-aggregation hash-identical
    def q() = spark.read.parquet(factPath)
      .groupBy(date_trunc("day", col("event_ts")).as("day_ts"))
      .agg(count(lit(1)).as("cnt"),
        Rollups.decSum(col("engagement_score")).as("score_sum"))
    val direct = q().collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    withRule {
      val routed = q()
      val physical = routed.queryExecution.executedPlan.toString()
      assert(physical.contains(mvPath), "daily shape must route onto the MV")
      assert(!physical.contains(factPath))
      val got = routed.collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === direct)
    }
  }

  test("avg decomposes to sum/cnt over the MV") {
    def q() = spark.read.parquet(factPath)
      .groupBy(col("content_type"))
      .agg(avg(col("engagement_score")).as("avg_score"))
    val direct = q().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    withRule {
      val routed = q()
      assert(routed.queryExecution.executedPlan.toString().contains(mvPath))
      val got = routed.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet === direct.keySet)
      got.foreach { case (k, v) =>
        assert(math.abs(v - direct(k)) <= 1e-9 * math.max(1.0, math.abs(direct(k))),
          s"avg for $k diverged: routed $v vs direct ${direct(k)}")
      }
    }
  }

  test("minute-grained MV instance routes minute AND hourly shapes") {
    val minuteMv = factPath + "_minute_mv"
    spark.read.parquet(factPath)
      .groupBy(date_trunc("minute", col("event_ts")).as("minute_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Rollups.decSum(col("engagement_score")).as("score_sum"))
      .write.mode("overwrite").parquet(minuteMv)
    val rule = MvRouting(spark, factPath, minuteMv,
      mvTsCol = "minute_ts", mvGranularity = "minute")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      def run(gran: String) = spark.read.parquet(factPath)
        .groupBy(date_trunc(gran, col("event_ts")).as("ts_b"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      for (gran <- Seq("minute", "hour", "day")) {
        val direct = run(gran).collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
        val routed = run(gran)
        assert(routed.queryExecution.executedPlan.toString().contains(minuteMv),
          s"$gran shape must route onto the minute MV")
        assert(routed.collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet === direct)
      }
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
    }
  }

  test("finer-than-MV granularity does NOT route") {
    withRule {
      val q = spark.read.parquet(factPath)
        .groupBy(date_trunc("minute", col("event_ts")).as("minute_ts"))
        .agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(factPath),
        "the hourly MV cannot answer a minute-grained aggregate")
    }
  }

  test("foreign aggregate (different function) does NOT route") {
    withRule {
      val q = spark.read.parquet(factPath)
        .groupBy(col("event_type")).agg(max(col("engagement_score")).as("mx"))
      assert(q.queryExecution.executedPlan.toString().contains(factPath))
    }
  }

  test("aggregate over LIMIT does NOT route (whitelist, not blacklist)") {
    withRule {
      val q = spark.read.parquet(factPath).limit(100)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(factPath),
        "a limited aggregate sees a different row multiset than the MV")
    }
  }

  test("aggregate over a fact self-join does NOT route") {
    withRule {
      val f = spark.read.parquet(factPath)
      val q = f.as("a").join(f.as("b"), Seq("event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(factPath))
    }
  }

  test("aggregate over explode does NOT route") {
    withRule {
      val q = spark.read.parquet(factPath)
        .withColumn("x", explode(array(lit(1), lit(2))))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(factPath))
    }
  }

  test("month query does NOT route over a week-grained MV (week cut)") {
    // date_trunc('month', date_trunc('week', ts)) != date_trunc('month', ts):
    // a week spans month boundaries, so nothing coarser than a week MV
    // composes over it. A linear rank ladder would silently mis-route.
    val weekMv = factPath + "_week_mv"
    spark.read.parquet(factPath)
      .groupBy(date_trunc("week", col("event_ts")).as("week_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Rollups.decSum(col("engagement_score")).as("score_sum"))
      .write.mode("overwrite").parquet(weekMv)
    val rule = MvRouting(spark, factPath, weekMv,
      mvTsCol = "week_ts", mvGranularity = "week")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try {
      for (gran <- Seq("month", "quarter", "year")) {
        val q = spark.read.parquet(factPath)
          .groupBy(date_trunc(gran, col("event_ts")).as("ts_b"))
          .agg(count(lit(1)).as("cnt"))
        assert(q.queryExecution.executedPlan.toString().contains(factPath),
          s"a $gran aggregate must NOT route onto a week-grained MV")
      }
      // the week shape itself still routes
      val wq = spark.read.parquet(factPath)
        .groupBy(date_trunc("week", col("event_ts")).as("week_ts"))
        .agg(count(lit(1)).as("cnt"))
      assert(wq.queryExecution.executedPlan.toString().contains(weekMv),
        "the exact week shape must still route onto the week MV")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
    }
  }

  test("week query DOES route over an hourly MV (week starts are day-aligned)") {
    withRule {
      val q = spark.read.parquet(factPath)
        .groupBy(date_trunc("week", col("event_ts")).as("week_ts"))
        .agg(count(lit(1)).as("cnt"))
      val direct = spark.read.parquet(factPath)
        .groupBy(date_trunc("week", col("event_ts")).as("week_ts"))
        .agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(mvPath))
      // numbers must agree with the (un-routable, rule removed) base scan
      val got = q.collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
      spark.experimental.extraOptimizations = Seq.empty
      val exp = direct.collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
      assert(got === exp)
    }
  }

  test("avg over a NULLABLE score only routes via the MV's score_cnt") {
    // plant nulls in the score; the MV with score_cnt must route avg and
    // stay exact; an MV LACKING score_cnt must refuse (cnt is count(*),
    // dividing by it would diverge on the nulls)
    val base = tmpDir("mvnull")
    val fact = spark.read.parquet(factPath)
      .withColumn("engagement_score",
        when(pmod(hash(col("event_ts")), lit(5)) === 0, lit(null))
          .otherwise(col("engagement_score")))
    fact.write.parquet(s"$base/fact")
    val factDf = spark.read.parquet(s"$base/fact")
    assert(factDf.schema("engagement_score").nullable)
    Rollups.hourlyRollupMv(factDf, col("event_ts"),
        Seq(col("content_type"), col("event_type")), col("engagement_score"))
      .write.parquet(s"$base/mv")
    // legacy MV without score_cnt
    spark.read.parquet(s"$base/mv").drop("score_cnt")
      .write.parquet(s"$base/mv_legacy")

    def q() = spark.read.parquet(s"$base/fact")
      .groupBy(col("content_type"))
      .agg(avg(col("engagement_score")).as("avg_score"))
    val direct = q().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val goodRule = MvRouting(spark, s"$base/fact", s"$base/mv")
    spark.experimental.extraOptimizations = Seq(goodRule)
    try {
      val routed = q()
      assert(routed.queryExecution.executedPlan.toString().contains(s"$base/mv"))
      routed.collect().map(r => r.getString(0) -> r.getDouble(1)).foreach {
        case (k, v) => assert(math.abs(v - direct(k)) <= 1e-9,
          s"nullable-score avg diverged for $k: $v vs ${direct(k)}")
      }
    } finally spark.experimental.extraOptimizations = Seq.empty

    val legacyRule = MvRouting(spark, s"$base/fact", s"$base/mv_legacy")
    spark.experimental.extraOptimizations = Seq(legacyRule)
    try {
      val unrouted = q()
      assert(unrouted.queryExecution.executedPlan.toString().contains(s"$base/fact"),
        "avg over a nullable score must NOT route onto an MV without score_cnt")
    } finally spark.experimental.extraOptimizations = Seq.empty
  }

  test("a sibling path sharing the fact prefix does NOT route") {
    // fact_archive shares the string prefix of factPath — contains()
    // matching would route it
    val archive = factPath + "_archive"
    spark.read.parquet(factPath).limit(500).write.mode("overwrite").parquet(archive)
    withRule {
      val q = spark.read.parquet(archive)
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.executedPlan.toString().contains(archive))
      assert(!q.queryExecution.executedPlan.toString().contains(mvPath))
    }
  }
}
