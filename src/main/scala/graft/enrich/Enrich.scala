package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Engagement

/** The enrichment (SURVEY.md J1) + derived columns (P5–P7): the
  * reference's BroadcastContentEnricher, a point lookup per event into
  * the broadcast id → content map.
  *
  * Left-outer semantics match the reference exactly: an event whose
  * content_id is unknown (or deleted) passes through with null
  * content_type/length_seconds — and therefore null engagement_pct —
  * but still gets its score (the score formula only needs event_type
  * and duration, reference :286–307).
  *
  * One path for every dim, batch or streaming: the dim's
  * (id, content_type, length_seconds) rows are collected on the driver
  * into an id → (content_type, length_seconds) hash table, shipped with
  * `SparkContext.broadcast` and read by two lookups in one projection.
  * The content dim is one row per live key, so it always fits the
  * driver. A dim that is already a local relation (what
  * [[graft.dim.ContentDim.snapshot]] returns, with or without
  * projections on top) collects without a Spark job; a plan, such as
  * [[graft.dim.ContentDim.latestState]] over a change log, runs its
  * jobs once, here. The fact stream never shuffles and no join is
  * planned: the hot path is a single stage at any fact volume.
  */
object Enrich {

  /** events: unwrapEngagement output (string content_id); dim: columns
    * (id: string, content_type: string, length_seconds: int, …).
    * Output adds content_type and length_seconds, looked up by
    * content_id in a hash table of the dim's collected rows (O(1) per
    * event, null for an unknown or null id, as a left join gives), then
    * engagement_seconds, engagement_pct and engagement_score. Other
    * column types throw IllegalArgumentException, and so does a dim
    * with more than one row for an id, because a join would have
    * repeated that id's events. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame = {
    val idType = events.schema("content_id").dataType.simpleString
    require(idType == "string", s"events.content_id must be a string; got $idType")
    val d = dim.select(col("id"), col("content_type"), col("length_seconds"))
    val dimTypes = d.schema.map(_.dataType.simpleString)
    require(dimTypes == Seq("string", "string", "int"), "dim (id, content_type, length_seconds) " +
      s"must be (string, string, int); got (${dimTypes.mkString(", ")})")
    val table = new java.util.HashMap[String, (String, Integer)]()
    d.collect().foreach { r =>
      if (!r.isNullAt(0)) {
        val prev = table.put(r.getString(0), (r.getString(1), r.getAs[Integer](2)))
        require(prev == null, s"dim has more than one row for id ${r.getString(0)}; a join would repeat its events")
      }
    }
    val b = events.sparkSession.sparkContext.broadcast(table)
    val contentType = udf((id: String) => Option(b.value.get(id)).map(_._1).orNull)
    val lengthSeconds = udf((id: String) => Option(b.value.get(id)).map(_._2).orNull)
    events.select(col("*"), contentType(col("content_id")).as("content_type"),
        lengthSeconds(col("content_id")).as("length_seconds"))
      .withColumn("engagement_seconds",
        Engagement.engagementSeconds(col("duration_ms")))
      .withColumn("engagement_pct",
        Engagement.engagementPct(col("duration_ms"), col("length_seconds")))
      .withColumn("engagement_score",
        Engagement.engagementScore(col("event_type"), col("duration_ms")))
  }

  /** K3: serialize enriched rows to the outbox JSON shape (null fields
    * omitted, like the reference's Jackson NON_NULL mapper :366–381). */
  def toOutboxJson(enriched: DataFrame): DataFrame =
    enriched.select(to_json(struct(enriched.columns.map(col): _*)).as("value"))

  /** AS-OF (event-time temporal) join — the event-time complement to
    * [[enrich]]'s as-of-processing-time snapshot lookup: each left row
    * picks the latest right version with version ts <= the left ts,
    * per key (SCD-2-style point-in-time enrichment).
    *
    * Spark has no ASOF JOIN operator; the naive range-join formulation
    * (l JOIN r ON key AND r.ts <= l.ts, then max) explodes into
    * O(|versions per key| × |events|) intermediate rows. This is the
    * textbook distributed as-of instead: UNION both sides, ONE shuffle
    * on the key, one within-partition sort by (ts, side), and a
    * running `last(payload, ignoreNulls)` window carries the newest
    * right payload forward onto every left row. Right versions sort
    * BEFORE left rows at equal ts (<= semantics, matching DuckDB's
    * ASOF `>=`).
    *
    * `right` must be unique per (key, ts) — pre-collapse versions with
    * [[graft.ops.Dedup.lww]] otherwise. Left rows with no version at
    * or before them keep a null payload (left-outer semantics).
    *
    * Output: every `left` column plus `right`'s non-key/ts columns. */
  def asOfJoin(left: DataFrame, leftKey: Column, leftTs: Column,
      right: DataFrame, rightKey: Column, rightTs: Column): DataFrame = {
    val payloadCols = right.columns.map(col) // carried as one struct
    val l = left
      .withColumn("__key", leftKey).withColumn("__ts", leftTs)
      .withColumn("__side", lit(0))
      .withColumn("__payload", lit(null).cast(
        right.select(struct(payloadCols: _*)).schema.head.dataType))
    val r = right
      .withColumn("__key", rightKey).withColumn("__ts", rightTs)
      .withColumn("__side", lit(1))
      .withColumn("__payload", struct(payloadCols: _*))
      .select(l.columns.map(c =>
        if (left.columns.contains(c)) lit(null).cast(l.schema(c).dataType).as(c)
        else col(c)): _*)
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__ts").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(left.columns.map(col) :+ col("__asof").as("asof"): _*)
  }

  /** [[asOfJoin]] with a staleness TOLERANCE (ClickHouse/pandas
    * `merge_asof(..., tolerance=)` semantics): a matched version older
    * than `tolerance` before the left row's ts is discarded — the row
    * keeps the left-outer null instead of silently enriching from a
    * stale snapshot. Pure composition: the carried payload already
    * contains the version ts, so the bound is one `when` over the
    * asOfJoin output — same single-shuffle plan, no extra join.
    *
    * `rightTsField` names the version-ts column INSIDE the payload
    * struct (right's own ts column name). */
  def asOfJoinWithin(left: DataFrame, leftKey: Column, leftTs: Column,
      right: DataFrame, rightKey: Column, rightTs: Column,
      rightTsField: String, tolerance: String): DataFrame = {
    // validate eagerly: a malformed unit spliced into expr() would
    // otherwise surface as an obscure Catalyst parse error downstream
    // one or more '<count> <unit>' terms — compound Spark interval
    // strings like '1 HOUR 30 MINUTES' and '1 WEEK' are valid splices
    val TolerancePattern =
      ("""(?i)\s*(\d+\s+""" +
        """(MICROSECONDS?|MILLISECONDS?|SECONDS?|MINUTES?|HOURS?|DAYS?|WEEKS?)\s*)+""").r
    require(TolerancePattern.pattern.matcher(tolerance).matches(),
      s"asOfJoinWithin tolerance must be one or more '<count> <unit>' terms " +
        s"with unit one of MICROSECOND(S)/MILLISECOND(S)/SECOND(S)/MINUTE(S)/" +
        s"HOUR(S)/DAY(S)/WEEK(S); got: '$tolerance'")
    val joined = asOfJoin(left, leftKey, leftTs, right, rightKey, rightTs)
    val fresh = col("asof").getField(rightTsField) >=
      leftTs - expr(s"INTERVAL $tolerance")
    joined.withColumn("asof", when(fresh, col("asof")))
  }
}
