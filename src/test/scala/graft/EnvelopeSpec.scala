package graft

import org.apache.spark.sql.functions.lit

import graft.cdc.Envelope
import graft.dim.ContentDim
import graft.enrich.Enrich

/** Envelope unwrap (P1/P3/P4), dim folding (J1 state), and left-join
  * enrichment semantics, on hand-written Debezium-shaped fixtures
  * (shapes per FIXTURES.md §3 / the reference connector config). */
class EnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private val envelopedPlay =
    """{"payload":{"after":{"id":"42","content_id":"c1","user_id":"u1","event_type":"play","event_ts":"2024-01-01T10:00:00.000000","duration_ms":45000,"device":"ios","raw_payload":"{\"s\":1}"},"op":"c","ts_ms":100}}"""
  private val flatClick =
    """{"id":"43","content_id":"c9","user_id":"u2","event_type":"click","event_ts":"2024-01-01T10:00:01","device":"web"}"""
  private val malformed = """{"#$%^ not json"""

  test("engagement unwrap: enveloped + flattened accepted, malformed dropped") {
    val out = Envelope.unwrapEngagement(
      Seq(envelopedPlay, flatClick, malformed).toDF("value"))
      .orderBy("event_id").collect()
    assert(out.length === 2)
    val r42 = out(0)
    assert(r42.getAs[Long]("event_id") === 42L)
    assert(r42.getAs[String]("content_id") === "c1")
    assert(r42.getAs[Long]("duration_ms") === 45000L)
    assert(r42.getAs[String]("platform") === "ios")
    assert(r42.getAs[java.sql.Timestamp]("event_ts").toString === "2024-01-01 10:00:00.0")
    val r43 = out(1)
    assert(r43.getAs[Long]("event_id") === 43L)
    assert(r43.isNullAt(r43.fieldIndex("duration_ms"))) // click: no duration
  }

  private def contentUpsert(id: String, ctype: String, len: Int, seq: Long) =
    s"""{"payload":{"after":{"id":"$id","slug":"s-$id","title":"T $id","content_type":"$ctype","length_seconds":$len,"publish_ts":"2024-01-01T00:00:00"},"op":"u","ts_ms":$seq}}"""
  private def contentDelete(id: String, seq: Long) =
    s"""{"payload":{"before":{"id":"$id"},"after":null,"op":"d","ts_ms":$seq}}"""

  test("content unwrap: upserts, delete tombstones, flat rows; no-id rows dropped") {
    val out = Envelope.unwrapContent(Seq(
      contentUpsert("c1", "podcast", 300, 1),
      contentDelete("c2", 2),
      """{"id":"c3","slug":"s3","title":"T3","content_type":"video","length_seconds":120,"publish_ts":"2024-01-01T00:00:00"}""",
      malformed).toDF("value")).orderBy("id").collect()
    assert(out.map(_.getAs[String]("id")).toSeq === Seq("c1", "c2", "c3"))
    assert(out.map(_.getAs[Boolean]("is_delete")).toSeq === Seq(false, true, false))
    assert(out(2).getAs[Int]("length_seconds") === 120)
  }

  test("dim latest-state: newest change wins, deletes remove the key") {
    val changes = Envelope.unwrapContent(Seq(
      contentUpsert("c1", "podcast", 300, 1),
      contentUpsert("c1", "podcast", 360, 5), // newer upsert wins
      contentUpsert("c2", "video", 100, 1),
      contentDelete("c2", 2),                 // delete after upsert → gone
      contentDelete("c3", 1),
      contentUpsert("c3", "newsletter", 50, 2) // upsert after delete → back
    ).toDF("value"))
    val dim = ContentDim.latestState(changes).orderBy("id").collect()
    assert(dim.map(_.getAs[String]("id")).toSeq === Seq("c1", "c3"))
    assert(dim(0).getAs[Int]("length_seconds") === 360)
  }

  test("dim latest-state: a full tie on change_seq and is_delete resolves the same way at any partitioning") {
    // two upserts of c1 at one ts_ms: the other columns break the tie
    // (ascending, so "newsletter" beats "video"), whichever arrives first
    val changes = Envelope.unwrapContent(Seq(
      contentUpsert("c1", "video", 300, 7),
      contentUpsert("c1", "newsletter", 300, 7),
      contentUpsert("c2", "podcast", 10, 1)).toDF("value"))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def winners(n: Int) = try {
      spark.conf.set(key, n.toString)
      ContentDim.latestState(changes).orderBy("id")
        .select("id", "content_type").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    } finally spark.conf.set(key, before)
    val want = Seq(("c1", "newsletter"), ("c2", "podcast"))
    assert(winners(1) === want)
    assert(winners(7) === want)
    // the streaming fold applies the same order
    val path = dimPath()
    ContentDim.applyBatch(spark, path, changes)
    assert(dimRows(path) === Map("c1" -> "newsletter", "c2" -> "podcast"))
  }

  // ---- ContentDim.applyBatch: the driver-side fold ------------------------

  private def dimPath(): String =
    tmpDir("dim") + "/snapshot"
  private def fold(path: String, msgs: String*): Unit =
    ContentDim.applyBatch(spark, path, Envelope.unwrapContent(msgs.toDF("value")))
  private def dimRows(path: String): Map[String, String] =
    ContentDim.snapshot(spark, path).select("id", "content_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("dim merge: upserts replace, deletes remove, untouched rows carry over") {
    val path = dimPath()
    fold(path, contentUpsert("c0", "podcast", 10, 1), contentUpsert("c1", "video", 20, 1))
    fold(path, contentDelete("c1", 2), contentUpsert("c2", "newsletter", 30, 2))
    assert(dimRows(path) === Map("c0" -> "podcast", "c2" -> "newsletter"))
    val c0 = ContentDim.snapshot(spark, path).filter($"id" === "c0").head()
    assert(c0.getAs[Int]("length_seconds") === 10)
    assert(c0.getAs[String]("title") === "T c0")
  }

  test("dim apply: first batch on an empty path; several versions of one id in one batch") {
    val path = dimPath()
    assert(ContentDim.read(spark, path).isEmpty)
    assert(ContentDim.snapshot(spark, path).count() === 0)
    fold(path,
      contentUpsert("c1", "podcast", 300, 1),
      contentUpsert("c1", "video", 360, 5), // newest of three wins
      contentUpsert("c1", "newsletter", 420, 3))
    assert(dimRows(path) === Map("c1" -> "video"))
    assert(ContentDim.snapshot(spark, path).head().getAs[Int]("length_seconds") === 360)
  }

  test("dim apply: a delete wins a tie; a delete of an unknown id is a no-op") {
    val path = dimPath()
    fold(path, contentUpsert("c1", "podcast", 300, 1), contentUpsert("c2", "video", 60, 1))
    fold(path,
      contentUpsert("c1", "video", 300, 4),
      contentDelete("c1", 4),   // same ts_ms as the upsert: the delete wins
      contentDelete("c9", 4))   // never existed
    assert(dimRows(path) === Map("c2" -> "video"))
  }

  test("dim apply: a delete then a re-insert across batches brings the key back") {
    val path = dimPath()
    fold(path, contentUpsert("c1", "podcast", 300, 1))
    fold(path, contentDelete("c1", 2))
    assert(dimRows(path) === Map.empty)
    fold(path, contentUpsert("c1", "newsletter", 50, 3))
    assert(dimRows(path) === Map("c1" -> "newsletter"))
    // an empty batch commits nothing
    val versions = graft.sinks.SnapshotStore.versions(spark, path)
    fold(path)
    assert(graft.sinks.SnapshotStore.versions(spark, path) === versions)
  }

  test("dim apply runs at most two jobs: one collect, one write") {
    val path = dimPath()
    fold(path, contentUpsert("c1", "podcast", 300, 1), contentUpsert("c2", "video", 60, 1))
    val applyJobs =
      jobsIn(fold(path, contentUpsert("c3", "newsletter", 30, 2), contentDelete("c1", 2)))
    assert(applyJobs >= 1 && applyJobs <= 2, s"applyBatch ran $applyJobs jobs")
    assert(dimRows(path) === Map("c2" -> "video", "c3" -> "newsletter"))
  }

  test("dim snapshot sees a commit made by another writer") {
    val path = dimPath()
    fold(path, contentUpsert("c1", "podcast", 300, 1))
    assert(dimRows(path) === Map("c1" -> "podcast")) // cached version
    // a writer that bypasses ContentDim publishes the next version
    graft.sinks.SnapshotStore.commitReplace(spark, path,
      ContentDim.snapshot(spark, path).withColumn("content_type", lit("video")))
    assert(dimRows(path) === Map("c1" -> "video"))
    fold(path, contentUpsert("c2", "newsletter", 30, 2)) // folds onto the other writer's rows
    assert(dimRows(path) === Map("c1" -> "video", "c2" -> "newsletter"))
  }

  test("enriched output projects onto the declared 13-field schema, session_id extracted") {
    val events = Envelope.unwrapEngagement(Seq(envelopedPlay).toDF("value"))
    val dim = ContentDim.latestState(Envelope.unwrapContent(
      Seq(contentUpsert("c1", "podcast", 300, 1)).toDF("value")))
    val out = Schemas.toEnrichedEvent(Enrich.enrich(events, dim))
    assert(out.schema.fieldNames.toSeq === Schemas.enrichedEvent.fieldNames.toSeq)
    val row = out.head
    assert(row.getAs[String]("session_id") === null) // raw_payload {"s":1} has no session_id
    val withSess = Envelope.unwrapEngagement(Seq(
      envelopedPlay.replace("{\\\"s\\\":1}", "{\\\"session_id\\\":\\\"sess-9\\\"}"))
      .toDF("value"))
    val r2 = Schemas.toEnrichedEvent(Enrich.enrich(withSess, dim)).head
    assert(r2.getAs[String]("session_id") === "sess-9")
  }

  test("enrichment is left-outer: unknown content passes through with null dims but a score") {
    val events = Envelope.unwrapEngagement(Seq(envelopedPlay, flatClick).toDF("value"))
    val dim = ContentDim.latestState(Envelope.unwrapContent(
      Seq(contentUpsert("c1", "podcast", 300, 1)).toDF("value")))
    val out = Enrich.enrich(events, dim).orderBy("event_id").collect()
    assert(out.length === 2) // row count preserved (left join)
    val hit = out(0)
    assert(hit.getAs[String]("content_type") === "podcast")
    assert(hit.getAs[Double]("engagement_pct") === 15.0) // 45s of 300s
    assert(hit.getAs[Double]("engagement_score") === 2.5) // play, ln(46) capped
    val miss = out(1)
    assert(miss.isNullAt(miss.fieldIndex("content_type")))
    assert(miss.isNullAt(miss.fieldIndex("engagement_pct")))
    assert(miss.getAs[Double]("engagement_score") === 0.2) // click, no duration
  }

  // ---- enrichment: the driver-held hash lookup -----------------------------

  /** c1 a hit, c2 a dim row with null content_type/length_seconds, c3
    * deleted; the events add an unknown id (c9) and a null content_id. */
  private val lookupChanges = Seq(
    contentUpsert("c1", "podcast", 300, 1),
    """{"payload":{"after":{"id":"c2","slug":"s-c2","title":"T c2","content_type":null,"length_seconds":null,"publish_ts":"2024-01-01T00:00:00"},"op":"c","ts_ms":1}}""",
    contentUpsert("c3", "video", 60, 1),
    contentDelete("c3", 2))
  private val lookupEvents = Seq("c1", "c2", "c3", "c9").zipWithIndex.map { case (c, i) =>
    envelopedPlay.replace("\"id\":\"42\"", "\"id\":\"" + (50 + i) + "\"")
      .replace("\"c1\"", "\"" + c + "\"")
  } :+ flatClick.replace("\"content_id\":\"c9\",", "")

  private def lookupPlanDim =
    ContentDim.latestState(Envelope.unwrapContent(lookupChanges.toDF("value")))

  test("enrich against a snapshot equals enrich against the latestState of its changes") {
    val path = dimPath()
    fold(path, lookupChanges: _*)
    val events = Envelope.unwrapEngagement(lookupEvents.toDF("value"))
    val held = Enrich.enrich(events, ContentDim.snapshot(spark, path))
    val planned = Enrich.enrich(events, lookupPlanDim)
    assert(held.schema === planned.schema) // names, order, types and nullability
    val rows = held.orderBy("event_id").collect().toSeq
    assert(rows === planned.orderBy("event_id").collect().toSeq)
    assert(rows.map(r => (r.getAs[String]("content_id"), r.getAs[String]("content_type"),
      Option(r.getAs[Integer]("length_seconds")))) === Seq(
      (null, null, None), ("c1", "podcast", Some(300)), ("c2", null, None),
      ("c3", null, None), ("c9", null, None)))
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("engagement_score"))))
  }

  test("enrich against a driver-held dim runs one job and plans no join or broadcast exchange") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.{col, upper}
    val path = dimPath()
    fold(path, lookupChanges: _*)
    // a one-partition RDD frame, as a foreachBatch micro-batch is
    val events = Envelope.unwrapEngagement(
      spark.sparkContext.parallelize(lookupEvents, 1).toDF("value"))
    // (dim, the jobs building the enrichment runs: none for local rows,
    // with or without a projection on top; a plan runs its own)
    val dims = Seq[(String, () => DataFrame, Option[Int])](
      ("snapshot", () => ContentDim.snapshot(spark, path), Some(0)),
      ("projected snapshot", () => ContentDim.snapshot(spark, path)
        .withColumn("content_type", upper(col("content_type"))), Some(0)),
      ("latestState plan", () => lookupPlanDim, None))
    for ((name, dim, buildJobs) <- dims) {
      var enriched: DataFrame = null
      val built = jobsIn { enriched = Enrich.enrich(events, dim()) }
      buildJobs.foreach(n => assert(built === n, s"building enrich over the $name"))
      var got = Array.empty[org.apache.spark.sql.Row]
      assert(jobsIn { got = enriched.collect() } === 1, name)
      assert(got.length === lookupEvents.size, name)
      val helper = new AdaptiveSparkPlanHelper {}
      val offending = helper.collect(enriched.queryExecution.executedPlan) {
        case p: BroadcastExchangeLike => p
        case p: BaseJoinExec => p
      }
      assert(offending.isEmpty, s"$name: ${enriched.queryExecution.executedPlan}")
    }
  }

  test("a driver-held dim with a duplicate id fails loudly, naming the id") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("content_type", StringType), StructField("length_seconds", IntegerType)))
    val rows = Seq(Row("c1", "podcast", 300), Row("c7", "video", 60), Row("c7", "newsletter", 10))
    val events = Envelope.unwrapEngagement(Seq(envelopedPlay).toDF("value"))
    // local rows, and a plan over two RDD partitions
    for (dim <- Seq(spark.createDataFrame(rows.asJava, schema),
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))) {
      val e = intercept[IllegalArgumentException](Enrich.enrich(events, dim))
      assert(e.getMessage.contains("c7"), e.getMessage)
    }
  }

  test("a mistyped dim or content_id fails loudly, naming the column") {
    import org.apache.spark.sql.functions.col
    val events = Envelope.unwrapEngagement(Seq(envelopedPlay).toDF("value"))
    val dim = Seq(("c1", "podcast", 300)).toDF("id", "content_type", "length_seconds")
    val longSeconds = dim.withColumn("length_seconds", col("length_seconds").cast("long"))
    val e1 = intercept[IllegalArgumentException](Enrich.enrich(events, longSeconds))
    assert(e1.getMessage.contains("length_seconds") && e1.getMessage.contains("bigint"), e1.getMessage)
    val longIds = events.withColumn("content_id", col("event_id"))
    val e2 = intercept[IllegalArgumentException](Enrich.enrich(longIds, dim))
    assert(e2.getMessage.contains("content_id"), e2.getMessage)
  }
}
