package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sinks.SnapshotStore

/** The exactly-once landing shared by the streaming ingests
  * ([[CorpusIngest.pipelineBatch]], [[ConvIngest.pipelineBatch]],
  * [[PrefIngest.pipelineBatch]]): each keeps a REGISTRY store of the
  * rows it has landed, deduplicates a micro-batch against it by a slim
  * digest column, and lands the batch's fresh rows and their derived
  * relations (evictions, ledgers, monitor rows) in several stores.
  *
  * Delivery contract: at-least-once foreachBatch × idempotent tagged
  * commits (one tag per store per batch id) = exactly-once landing
  * under replays.
  *
  * CRASH-ATOMIC across the multi-store landing: the commits are
  * sequential, so a crash can strand the batch between them. Landed
  * registry rows are therefore STAMPED with `batch_id`, and a replay
  * that finds the registry tag already committed RECOVERS `fresh` by
  * reading the registry's own batch slice back instead of recomputing
  * it ([[freshOrLanded]]). The recompute would anti-join against a
  * registry that already holds this batch's digests, collapse `fresh`
  * to ∅, and commit EMPTY downstream landings under their tags,
  * silently losing the batch's payload forever. With read-back
  * recovery every downstream relation is rebuilt from the exact rows
  * attempt 1 landed, the already-present tags no-op, and the missing
  * ones land the identical frames — exactly-once for every store no
  * matter where the prior attempt died (the index side is
  * [[graft.dedup.MinHashIndex.processBatch]]'s replay-exact
  * contract). StreamingSpec's failure-injection matrices kill each
  * ingest's batch after EACH commit ([[failpoint]]) and assert the
  * replayed state is bit-equal to a never-crashed run.
  */
private[graft] object IngestRegistry {

  /** Test-only fault injection: name of the commit AFTER which the
    * batch "crashes" (StreamingSpec's failure-injection matrices).
    * Never set outside tests. Sites: "index", "registry", "turns",
    * "evictions", "margins". */
  var crashAfter: Option[String] = None
  def failpoint(site: String): Unit =
    if (crashAfter.contains(site))
      throw new RuntimeException(s"injected crash after $site commit")

  /** This batch's fresh registry rows, persisted DISK_ONLY: the
    * registry's `batch_id` slice when `regTag` is already committed
    * (read-back recovery, see the object doc), otherwise `compute`
    * stamped with `batch_id`. The caller unpersists. DISK_ONLY, not
    * localCheckpoint: lineage survives a lost executor (store reads
    * pin their file lists at read() time, so the later appends never
    * leak into a recompute). */
  def freshOrLanded(spark: SparkSession, base: String, regTag: String,
      batchId: Long)(compute: => DataFrame): DataFrame =
    (if (SnapshotStore.hasTag(spark, base, regTag))
      SnapshotStore.read(spark, base).get.filter(col("batch_id") === batchId)
    else compute.withColumn("batch_id", lit(batchId))
    ).persist(StorageLevel.DISK_ONLY)

  /** In-batch exact collapse: the min-`order` row per `key` digest
    * (the window is batch-sized, never registry-sized). */
  def firstPerKey(df: DataFrame, key: String, order: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(order))))
      .filter(col("__rn") === 1).drop("__rn")

  /** `df` minus the rows whose `key` digest `landed` already holds — a
    * left-anti join on the digest column only, so payload text never
    * rides the join key. */
  def antiJoinLanded(df: DataFrame, landed: DataFrame, key: String): DataFrame =
    df.join(landed.select(col(key).as(s"__e$key")),
      col(key) === col(s"__e$key"), "left_anti")

  /** [[antiJoinLanded]] against the registry at `base`, if any. */
  def notLanded(spark: SparkSession, base: String, df: DataFrame,
      key: String): DataFrame =
    SnapshotStore.read(spark, base).fold(df)(antiJoinLanded(df, _, key))

  /** Land near-dup verdicts as EVICTION records (evicted, kept_twin,
    * jaccard): `pairs` from [[graft.dedup.MinHashIndex.processBatch]],
    * `doc_b` the evicted side. An append-only stream cannot
    * retro-delete, so the serve-time readout ([[served]]) anti-joins
    * them — the ClickHouse lightweight-delete pattern. */
  def landEvictions(spark: SparkSession, pairsBase: String,
      pairs: DataFrame, tag: String): Unit =
    SnapshotStore.commitAppend(spark, pairsBase,
      pairs.select(col("doc_b").as("evicted"), col("doc_a").as("kept_twin"),
        col("jaccard")),
      tag = Some(tag))

  /** Serve-time readout: the store at `base` minus the rows whose `id`
    * an eviction record at `pairsBase` names. `what` names the store
    * in the error an empty one raises. */
  def served(spark: SparkSession, base: String, pairsBase: String,
      id: String, what: String): DataFrame = {
    val landed = SnapshotStore.read(spark, base)
      .getOrElse(sys.error(s"empty $what store at $base"))
    SnapshotStore.read(spark, pairsBase) match {
      case Some(ev) => landed.join(
        ev.select(col("evicted").as(id)).distinct(), Seq(id), "left_anti")
      case None => landed
    }
  }
}
