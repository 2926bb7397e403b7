package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1–S4 source constructors. The Kafka readers mirror the reference's
  * consumer settings (EnhancedEngagementStreamingJob.java:76–107):
  * latest offsets, value-only deserialization, no auto-commit (Spark
  * tracks offsets in the checkpoint, which is what replaces the
  * reference's group-offset management / ST7 replay-by-reset).
  *
  * No broker exists in this environment, so these are exercised through
  * their MemoryStream-shaped equivalents in tests — the unwrap contract
  * downstream (a string `value` column) is identical.
  */
object Sources {

  val EngagementTopic = "cdc.public.engagement_events"
  val ContentTopic = "cdc.public.content"

  /** S1: the engagement CDC stream. `minPartitions` maps Kafka's 4-way
    * topic parallelism up to the cluster's cores. */
  def kafkaEngagement(spark: SparkSession, brokers: String,
      startingOffsets: String = "latest", minPartitions: Option[Int] = None): DataFrame =
    kafkaValue(spark, brokers, EngagementTopic, startingOffsets, minPartitions)

  /** S2: the content-dimension CDC stream (no watermark downstream —
    * dimension updates are not event-timed). */
  def kafkaContent(spark: SparkSession, brokers: String,
      startingOffsets: String = "latest"): DataFrame =
    kafkaValue(spark, brokers, ContentTopic, startingOffsets, None)

  private def kafkaValue(spark: SparkSession, brokers: String, topic: String,
      startingOffsets: String, minPartitions: Option[Int]): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
    minPartitions.foreach(n => r.option("minPartitions", n))
    r.load().selectExpr("CAST(value AS STRING) AS value")
  }

  /** S1-alt: an Avro-wire engagement stream (engagement_event.avsc) —
    * a DataFrame with a binary `value` column decodes through
    * graft_avro_decode into the same downstream shape the JSON unwrap
    * produces (P4 drop of undecodable/idless records included). */
  def avroEngagement(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.GraftExtensions.install(raw.sparkSession)
    raw.select(call_function("graft_avro_decode", col("value")).as("r"))
      .filter(col("r.event_id").isNotNull)
      .select(
        graft.functions.Engagement.normalizeEventId(col("r.event_id")).as("event_id"),
        col("r.user_id").as("user_id"),
        col("r.content_id").as("content_id"),
        col("r.event_type").as("event_type"),
        col("r.device").as("platform"),
        col("r.duration_ms").as("duration_ms"),
        graft.functions.Engagement.parseTimestampMulti(col("r.event_ts")).as("event_ts"),
        col("r.raw_payload").as("raw_payload"))
  }

  /** S3: dimension snapshot scan (JDBC in the reference; any batch
    * relation here — the enrichment only needs (id, content_type,
    * length_seconds)). */
  def dimSnapshot(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3, JDBC form — the reference's actual transport (generator.py:
    * 53–56 seeds dims over JDBC). Partitioned when bounds are given so
    * a large dimension scan parallelizes across executors; exercised
    * end-to-end against embedded Derby in JdbcSpec and
    * q_jdbc_roundtrip. */
  def dimSnapshotJdbc(spark: SparkSession, url: String, table: String,
      partCol: Option[(String, Long, Long, Int)] = None): DataFrame =
    partCol match {
      case Some((c, lo, hi, n)) =>
        graft.sinks.Jdbc.readTablePartitioned(spark, url, table, c, lo, hi, n)
      case None => graft.sinks.Jdbc.readTable(spark, url, table)
    }

  /** S4: CDC initial snapshot + change stream = a batch seed unioned
    * with the live stream, both in the same wire shape. */
  def seedPlusStream(seed: DataFrame, stream: DataFrame): DataFrame =
    seed.unionByName(stream)
}
