package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Conversations
import graft.sinks.SnapshotStore

/** Streaming CONVERSATION ingest — the SFT modality joins the
  * documents' streaming flagship ([[CorpusIngest.pipelineBatch]]):
  * each micro-batch of raw (conv_id, payload-JSON) conversations is
  * flattened, per-turn GATED and CLEANED (drop_conv/drop_turns
  * verdicts applied, PII redacted in place —
  * [[Conversations.clean]]), conversation-level EXACT-deduplicated on
  * the role-normalized cleaned transcript (within the batch AND
  * against everything already landed), NEAR-deduplicated against the
  * persisted MinHash band index, and landed exactly-once:
  *
  *  - `base`     — the seen REGISTRY: (conv_id, fp, text) of every
  *                 exact-new cleaned conversation (the anti-join side
  *                 of future batches' exact dedup — 16-char digests,
  *                 never transcripts, move through that join);
  *  - `turnsBase`— the cleaned TURNS of those conversations (the
  *                 training-data payload a reader consumes);
  *  - `pairsBase`— near-dup EVICTION records (evicted, kept_twin,
  *                 jaccard) — an append-only stream cannot
  *                 retro-delete, so the serve-time readout anti-joins
  *                 them (the CorpusIngest lightweight-delete pattern);
  *  - `mvBase`   — one additive monitor row per batch
  *                 (conversations in / surviving clean / exact-new /
  *                 evicted, landed turns) in a SummingStore MV.
  *
  * Delivery: tagged commits (`conv-$batchId` / `cturns-$batchId` /
  * `cevict-$batchId` / `cmv-$batchId`), exactly-once and crash-atomic
  * under replays by [[IngestRegistry]]'s read-back recovery.
  *
  * Batch parity: under conv_id-monotone arrival (whole conversations
  * per batch — the stream contract) the streamed build is bit-equal
  * to one batch pass, so the registered q_conv_pipeline_stream replays
  * the 3-batch build against ONE DuckDB batch oracle
  * (clean → transcript → exact keep → MinHash chain → serve → render
  * → loss-mask pack, every CTE the batch gates already use).
  *
  * Scale posture: composition adds no corpus-scale work — flatten and
  * clean are the batch operators (per-row parse + one hash aggregate +
  * one corpus-side join), exact dedup moves digests, the index probe
  * touches only this batch's band buckets, the monitor delta is one
  * aggregate of the batch.
  */
object ConvIngest {

  /** Land one micro-batch of (conv_id, payload) conversations.
    * Crash-atomic under replays — see [[IngestRegistry]]. */
  def pipelineBatch(spark: SparkSession, base: String, turnsBase: String,
      indexBase: String, pairsBase: String, mvBase: String,
      batch: DataFrame, batchId: Long): Unit = {
    val turns = Conversations.flatten(batch, col("conv_id"), col("payload"))
    // monitor "conversations in" = DISTINCT arriving conv_ids that
    // flatten to ≥1 turn — the exact population the batch oracle's m1
    // counts, so a duplicate conv_id row or an unparseable payload in
    // a batch cannot desync the MV from the gate
    val nIn = turns.select(col("conv_id")).distinct().count()
    // gate verdicts applied: drop_conv conversations vanish here (zero
    // turns survive), so "survives clean" IS the stream's gate count.
    // DISK_ONLY for the reason IngestRegistry.freshOrLanded gives
    val cleaned = Conversations.clean(turns)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val regTag = s"conv-$batchId"
    val ctext = Conversations.convText(cleaned)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
    // exact collapse: min conv_id per fingerprint, then not landed yet
    val fresh = IngestRegistry.freshOrLanded(spark, base, regTag, batchId)(
      IngestRegistry.notLanded(spark, base,
        IngestRegistry.firstPerKey(ctext, "fp", "conv_id"), "fp"))
    try {
      // near-dup vs the persisted band index (incremental: only this
      // batch's band buckets are touched); doc_b is the evicted side.
      // processBatch is replay-exact and returns an eagerly-
      // materialized frame
      val pairs = graft.dedup.MinHashIndex.processBatch(spark, indexBase,
        fresh, col("conv_id"), col("text"), tag = s"cpipe-$batchId")
      IngestRegistry.failpoint("index")
      SnapshotStore.commitAppend(spark, base, fresh, tag = Some(regTag))
      IngestRegistry.failpoint("registry")
      val freshTurns = cleaned.join(
        fresh.select(col("conv_id")), Seq("conv_id"), "left_semi")
      SnapshotStore.commitAppend(spark, turnsBase, freshTurns,
        tag = Some(s"cturns-$batchId"))
      IngestRegistry.failpoint("turns")
      IngestRegistry.landEvictions(spark, pairsBase, pairs, s"cevict-$batchId")
      IngestRegistry.failpoint("evictions")
      val delta = spark.range(1).select(lit(batchId).as("batch_id"),
        lit(nIn).as("n_in"),
        lit(ctext.count()).as("n_cleaned"),
        lit(fresh.count()).as("n_fresh"),
        lit(pairs.count()).as("n_evicted"),
        lit(freshTurns.count()).as("turns_fresh"))
      graft.sinks.SummingStore.appendDelta(delta, mvBase,
        tag = Some(s"cmv-$batchId"))
    } finally {
      fresh.unpersist()
      cleaned.unpersist()
    }
  }

  /** Serve-time readout: the cleaned turns of every landed
    * conversation minus the evicted ones — the training-ready
    * transcript relation ([[Conversations.render]]'s input). */
  def servedTurns(spark: SparkSession, turnsBase: String,
      pairsBase: String): DataFrame =
    IngestRegistry.served(spark, turnsBase, pairsBase, "conv_id", "conversation")
}
