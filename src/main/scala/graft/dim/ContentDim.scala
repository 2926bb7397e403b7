package graft.dim

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.Envelope
import graft.sinks.SnapshotStore

/** Mutable-dimension maintenance (SURVEY.md §2.4 J1 / §3.2): the
  * content table is a tiny, slowly-changing dimension updated by a CDC
  * stream of upserts and delete tombstones.
  *
  * Design (SURVEY §7.4 #1): a snapshot table maintained per micro-batch
  * via foreachBatch — the engagement stream then left-looks-up each
  * event's content in the snapshot, giving the reference's
  * as-of-processing-time join semantics (events never retro-enrich;
  * deletes stop enrichment from the next batch on). The snapshot stays
  * small (one row per live key), so it always fits the driver
  * regardless of fact volume.
  *
  * The streaming path uses that: [[applyBatch]] folds a change batch
  * into the snapshot's rows on the driver, and [[snapshot]] serves rows
  * cached per path and keyed by the live manifest version (manifests
  * are immutable, so a version's rows never change). Those rows are a
  * local relation, so [[graft.enrich.Enrich.enrich]] collects them into
  * its hash table with no Spark job; a [[latestState]] plan over a
  * change log is collected the same way, running its jobs once.
  */
object ContentDim {

  /** The change-record columns a snapshot row does not carry. */
  private val ChangeCols = Set("is_delete", "change_seq")

  /** latestState's total order over a change batch: newest change_seq
    * first, a delete winning ties (a delete in the same source ts beats
    * the stale upsert), then every other column ascending (nulls
    * first). Debezium `ts_ms` has millisecond resolution, so two changes
    * to one key can share change_seq and is_delete; without the last
    * part, which one wins would depend on partitioning. */
  private def changeOrder(changes: DataFrame): Seq[Column] =
    Seq(col("change_seq").desc, col("is_delete").desc) ++ tiebreakCols(changes.columns.toSeq).map(col(_).asc)

  private def tiebreakCols(columns: Seq[String]): Seq[String] =
    columns.filterNot(c => c == "id" || ChangeCols(c))

  /** Collapse a batch of change records (columns: id, …, is_delete,
    * change_seq) to latest-state-per-key in [[changeOrder]], dropping
    * keys whose latest change is a delete. */
  def latestState(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(changeOrder(changes): _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("is_delete"))
      .drop("__rn", "is_delete", "change_seq")
  }

  /** SCD Type-2 history from the same change stream [[latestState]]
    * folds to Type-1: every upsert opens a version valid from its
    * change_seq until the NEXT change of the key (upsert or delete);
    * deletes close the prior version without opening one; the open
    * version (valid_to_seq IS NULL) is current. One lead() window
    * partitioned by key — state per group is bounded by that key's
    * change count, never corpus-wide. */
  def scd2History(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("change_seq"), col("is_delete"))
    changes
      .withColumn("valid_to_seq", lead(col("change_seq"), 1).over(w))
      .filter(!col("is_delete"))
      .withColumn("is_current", col("valid_to_seq").isNull)
      .withColumnRenamed("change_seq", "valid_from_seq")
      .drop("is_delete")
  }

  // ---- driver-side maintenance --------------------------------------------

  /** One committed version of a dim: its rows and their schema. */
  private final case class Version(version: Long, schema: StructType, rows: Seq[Row])

  /** Per-path rows of the last version read or committed in this JVM.
    * Keyed by the path string, like SnapshotStore's commit lock. */
  private val cache = new ConcurrentHashMap[String, Version]()

  /** The live version's rows: from the cache when it holds the live
    * manifest version, else one read of exactly that version. None
    * before the first commit. */
  private def live(spark: SparkSession, path: String): Option[Version] =
    SnapshotStore.versions(spark, path).lastOption.map { v =>
      val hit = cache.get(path)
      if (hit != null && hit.version == v) hit
      else {
        val read = SnapshotStore.readVersion(spark, path, v)
          .map(df => Version(v, df.schema, df.collect().toSeq))
          .getOrElse(Version(v, Envelope.contentRecordSchema, Nil))
        cache.put(path, read)
        read
      }
    }

  /** Spark's ascending order for one of the dim's string, integer or
    * boolean values, nulls first — the order `col.asc` gives
    * [[latestState]]'s window. Strings compare by UTF-8 bytes, as Spark
    * does (Java's `compareTo` orders UTF-16 units). */
  private def compareAsc(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"dim columns must be scalar to order changes; got ${a.getClass.getName}")
  }

  /** [[changeOrder]] on collected change rows: negative when `a` wins.
    * A descending key is the ascending comparison reversed, which is
    * also Spark's `desc` (nulls last). */
  private def changeOrdering(schema: StructType): Ordering[Row] = {
    val desc = Seq("change_seq", "is_delete").map(schema.fieldIndex)
    val asc = tiebreakCols(schema.fieldNames.toSeq).map(schema.fieldIndex)
    (a: Row, b: Row) =>
      (desc.iterator.map(i => compareAsc(b.get(i), a.get(i))) ++
        asc.iterator.map(i => compareAsc(a.get(i), b.get(i)))).find(_ != 0).getOrElse(0)
  }

  /** A version's rows as a local frame: the local relation converts the
    * rows on the driver, carries their true size and lets
    * [[graft.enrich.Enrich.enrich]] collect them without a job. */
  private def frame(spark: SparkSession, v: Version): DataFrame =
    spark.createDataFrame(v.rows.asJava, v.schema)

  /** Streaming maintenance: apply each micro-batch of content changes
    * to the snapshot table at `path`, committed transactionally through
    * [[graft.sinks.SnapshotStore]] (new snapshot dir + atomic pointer
    * flip — the ClickHouse-part-swap atomicity rebuilt on a plain FS).
    *
    * One driver-side fold: collect the batch, keep each key's first
    * change in [[latestState]]'s order, apply it to the live version's
    * rows (an upsert replaces, a delete removes, untouched rows carry
    * over) and commit the result from a one-partition local frame.
    * That is one collect job and one write job; the live rows come from
    * the cache this commit refreshes. An empty batch commits nothing.
    *
    * A concurrent enrichment batch resolves either the old or the new
    * snapshot, never a missing or half-replaced one; data files are
    * immutable, so an already-planned reader survives the next
    * keepManifests-1 commits (retention of 4 here = three dim updates
    * of slack for a long-running enrich batch — size it to reader
    * latency, it is a knob not a proof). */
  def applyBatch(spark: SparkSession, path: String, changes: DataFrame): Unit = {
    val batch = changes.collect()
    if (batch.nonEmpty) {
      val cs = changes.schema
      val id = cs.fieldIndex("id")
      val latest = batch.groupBy(_.get(id)).values.map(_.min(changeOrdering(cs)))
      // a first commit takes the change columns, nullable as a read-back
      // parquet schema is
      val base = live(spark, path).getOrElse(Version(-1L,
        StructType(cs.filterNot(f => ChangeCols(f.name)).map(_.copy(nullable = true))), Nil))
      val fromChange = base.schema.fieldNames.map(cs.fieldIndex)
      val baseId = base.schema.fieldIndex("id")
      val rows = scala.collection.mutable.LinkedHashMap.from(base.rows.map(r => r.get(baseId) -> r))
      latest.foreach { c =>
        if (c.getAs[Boolean]("is_delete")) rows.remove(c.get(id))
        else rows(c.get(id)) = Row.fromSeq(fromChange.map(c.get).toSeq)
      }
      val next = base.copy(rows = rows.values.toSeq)
      // coalesce(1): one staged file (a bare local relation writes one
      // file per task, up to one per core)
      cache.put(path, next.copy(version =
        SnapshotStore.commitReplace(spark, path, frame(spark, next).coalesce(1))))
      SnapshotStore.vacuum(spark, path, keepManifests = 4)
    }
  }

  /** The live snapshot as a local frame over the live version's cached
    * rows, or None before the first commit. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    live(spark, path).map(frame(spark, _))

  /** The live snapshot (empty dim before the first commit). */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    read(spark, path).getOrElse(emptyDim(spark))

  /** Schema-correct empty dimension (pre-first-change state). */
  def emptyDim(spark: SparkSession): DataFrame = frame(spark, Version(-1L, Envelope.contentRecordSchema, Nil))
}
