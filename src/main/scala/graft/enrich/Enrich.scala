package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.Engagement

/** The enrichment (SURVEY.md J1) + derived columns (P5–P7): the
  * reference's BroadcastContentEnricher, a point lookup per event into
  * the broadcast id → content map, re-expressed as a LEFT lookup
  * against the dimension snapshot.
  *
  * Left-outer semantics match the reference exactly: an event whose
  * content_id is unknown (or deleted) passes through with null
  * content_type/length_seconds — and therefore null engagement_pct —
  * but still gets its score (the score formula only needs event_type
  * and duration, reference :286–307).
  *
  * Scale posture: the fact stream never shuffles. A dim whose rows are
  * already on the driver (a local relation, as
  * [[graft.dim.ContentDim.snapshot]] returns) becomes an
  * id → (content_type, length_seconds) hash table shipped with
  * `SparkContext.broadcast` and read by two lookups in one projection:
  * no Spark job, no join and no hashed relation per batch. Any other
  * dim (a plan, such as [[graft.dim.ContentDim.latestState]] over a
  * change log, or a parquet table) is explicitly `broadcast()` into a
  * left hash join. Either way the hot path is a single stage
  * end-to-end at any fact volume.
  */
object Enrich {

  /** events: unwrapEngagement output; dim: columns (id, content_type,
    * length_seconds, …). Output adds content_type, length_seconds,
    * engagement_seconds, engagement_pct, engagement_score. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("id").as("__dim_id"),
      col("content_type"), col("length_seconds"))
    val joined = driverRows(d) match {
      case Some(rows) if events.schema("content_id").dataType == StringType =>
        lookup(events, rows)
      case _ =>
        events.join(broadcast(d), events("content_id") === col("__dim_id"), "left")
          .drop("__dim_id")
    }
    joined
      .withColumn("engagement_seconds",
        Engagement.engagementSeconds(col("duration_ms")))
      .withColumn("engagement_pct",
        Engagement.engagementPct(col("duration_ms"), col("length_seconds")))
      .withColumn("engagement_score",
        Engagement.engagementScore(col("event_type"), col("duration_ms")))
  }

  /** A local relation: rows already held on the driver, optionally under
    * the non-shuffling `coalesce(1)` a snapshot frame carries. */
  private object DriverHeld {
    def unapply(plan: LogicalPlan): Option[LocalRelation] = plan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case Repartition(1, false, l: LocalRelation) if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  /** The (id, content_type, length_seconds) values of a driver-held dim
    * of the content types (string, string, int), evaluated on the
    * driver; None for any other dim. */
  private def driverRows(d: DataFrame): Option[Seq[Seq[Any]]] = d.queryExecution.analyzed match {
    case Project(list, DriverHeld(l))
        if d.schema.map(_.dataType) == Seq(StringType, StringType, IntegerType) =>
      val bound = BindReferences.bindReferences[Expression](list, AttributeSeq(l.output))
      Some(l.data.map(r => bound.map(e => CatalystTypeConverters.convertToScala(e.eval(r), e.dataType))))
    case _ => None
  }

  /** `events` plus content_type and length_seconds looked up by
    * content_id in a hash table of `rows`: O(1) per event, null for an
    * unknown or null id, as the left join gives. A duplicate id throws,
    * because the join would have repeated that id's events. */
  private def lookup(events: DataFrame, rows: Seq[Seq[Any]]): DataFrame = {
    val table = new java.util.HashMap[String, (String, Integer)]()
    rows.foreach { case Seq(id, contentType, length) =>
      if (id != null) {
        val prev = table.put(id.asInstanceOf[String],
          (contentType.asInstanceOf[String], length.asInstanceOf[Integer]))
        require(prev == null, s"dim has more than one row for id $id; a join would repeat its events")
      }
    }
    val b = events.sparkSession.sparkContext.broadcast(table)
    val contentType = udf((id: String) => Option(b.value.get(id)).map(_._1).orNull)
    val lengthSeconds = udf((id: String) => Option(b.value.get(id)).map(_._2).orNull)
    events.select(col("*"), contentType(col("content_id")).as("content_type"),
      lengthSeconds(col("content_id")).as("length_seconds"))
  }

  /** K3: serialize enriched rows to the outbox JSON shape (null fields
    * omitted, like the reference's Jackson NON_NULL mapper :366–381). */
  def toOutboxJson(enriched: DataFrame): DataFrame =
    enriched.select(to_json(struct(enriched.columns.map(col): _*)).as("value"))

  /** AS-OF (event-time temporal) join — the event-time complement to
    * [[enrich]]'s as-of-processing-time snapshot join: each left row
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
