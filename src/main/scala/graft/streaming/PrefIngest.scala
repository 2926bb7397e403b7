package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Preferences
import graft.sinks.SnapshotStore

/** Streaming PREFERENCE-PAIR ingest — the RLHF/DPO modality's
  * flagship, completing the triad with the documents'
  * ([[CorpusIngest.pipelineBatch]]) and conversations'
  * ([[ConvIngest.pipelineBatch]]) streaming flagships: each
  * micro-batch of raw (pair_id, prompt, chosen, rejected) rows is
  * GATED ([[Preferences.gate]]'s verdicts annotated in-row),
  * prompt-level exact-deduplicated (within the batch AND against the
  * landed prompt registry — digests only move through the join), and
  * landed exactly-once:
  *
  *  - `base`       — the prompt REGISTRY: every prompt-NEW pair (ANY
  *                   verdict, dropped ones included — that is what
  *                   makes the streamed dedup equal the batch
  *                   [[Preferences.promptDedup]]: the canonical holder
  *                   of a prompt may itself be a dropped pair) with
  *                   its normalized-prompt digest `k`, verdict, PII
  *                   flags, and `batch_id` stamp;
  *  - `marginBase` — the margin LEDGER ([[Preferences.margins]]) of
  *                   landed gate-KEPT pairs — the relation a curation
  *                   pass filters on (negative margin = label noise);
  *  - `mvBase`     — one additive monitor row per batch (pairs in /
  *                   gate-kept / prompt-new landed / negative margins
  *                   among landed kept / PII-flagged kept) in a
  *                   SummingStore MV.
  *
  * Delivery: tagged commits (`pref-$batchId` / `pmargin-$batchId` /
  * `pmv-$batchId`), exactly-once and crash-atomic under replays by
  * [[IngestRegistry]]'s read-back recovery.
  *
  * Batch parity: under pair_id-monotone arrival the streamed build is
  * bit-equal to one batch pass (canonical = min pair_id = first
  * landed), so q_pref_pipeline_stream replays the 3-batch build
  * against ONE DuckDB batch oracle (gate + prompt-canonical + margin
  * CTEs — the batch gates' own predicates).
  *
  * Scale posture: the gate/PII/digest columns are per-row
  * projections; the in-batch collapse windows on the prompt digest
  * (batch-sized groups); the registry anti-join moves 32-char digests
  * only (the one join to co-bucket — or bloom-prefilter, the
  * CorpusIngest precedent — at warehouse scale); the ledger is a
  * projection of the batch's fresh rows; the monitor delta is one
  * aggregate of the batch.
  */
object PrefIngest {

  /** Land one micro-batch of (pair_id, prompt, chosen, rejected)
    * rows. Crash-atomic under replays — see [[IngestRegistry]]. */
  def pipelineBatch(spark: SparkSession, base: String, marginBase: String,
      mvBase: String, batch: DataFrame, batchId: Long): Unit = {
    val nIn = batch.count()
    val annotated = Preferences.withGate(batch)
      .withColumn("k", md5(TextFunctions.normText(col("prompt"))))
    val regTag = s"pref-$batchId"
    // min pair_id per normalized-prompt digest, then not landed yet
    val fresh = IngestRegistry.freshOrLanded(spark, base, regTag, batchId)(
      IngestRegistry.notLanded(spark, base,
        IngestRegistry.firstPerKey(annotated, "k", "pair_id"), "k"))
    try {
      SnapshotStore.commitAppend(spark, base, fresh, tag = Some(regTag))
      IngestRegistry.failpoint("registry")
      // margins re-gates internally, so the ledger holds KEPT fresh
      // pairs only; recomputed from the recovered slice on replay
      val ledger = Preferences.margins(fresh)
      SnapshotStore.commitAppend(spark, marginBase, ledger,
        tag = Some(s"pmargin-$batchId"))
      IngestRegistry.failpoint("margins")
      val delta = spark.range(1).select(lit(batchId).as("batch_id"),
        lit(nIn).as("n_in"),
        lit(annotated.filter(col("verdict") === "keep").count()).as("n_keep"),
        lit(fresh.count()).as("n_fresh"),
        lit(ledger.filter(col("margin_bp") < 0).count()).as("n_margin_neg"),
        lit(annotated.filter(col("verdict") === "keep" &&
          (col("pii_chosen") || col("pii_rejected"))).count()).as("n_pii_kept"))
      graft.sinks.SummingStore.appendDelta(delta, mvBase,
        tag = Some(s"pmv-$batchId"))
    } finally fresh.unpersist()
  }

  /** Serve-time readout: the landed margin ledger — the curation
    * relation of every gate-kept, prompt-canonical pair. */
  def servedMargins(spark: SparkSession, marginBase: String): DataFrame =
    SnapshotStore.read(spark, marginBase)
      .getOrElse(sys.error(s"empty margin ledger at $marginBase"))
}
