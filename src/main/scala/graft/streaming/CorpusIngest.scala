package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sinks.SnapshotStore

/** Incremental corpus build as a streaming pipeline: each micro-batch
  * of raw documents is quality-gated, exact-deduplicated (within the
  * batch AND against everything already landed), and appended to a
  * [[SnapshotStore]] table exactly-once — the LLM-data analog of the
  * reference's CDC-to-warehouse hot path, with the same delivery
  * contract (at-least-once foreachBatch × idempotent tagged commit =
  * exactly-once landing).
  *
  * Scale posture: the quality gate and fingerprint are per-row maps;
  * in-batch dedup windows on the fingerprint (batch-sized, not
  * corpus-sized); the against-the-store dedup is a left-anti join on
  * the slim fingerprint column only — at warehouse scale that is the
  * one join to co-bucket (or guard with a bloom filter), and it never
  * moves document text, just 16-char digests.
  */
object CorpusIngest {

  /** Land one micro-batch. `batch` must carry (doc_id, text, …); rows
    * below `minQuality` drop, byte-identical texts collapse to the min
    * doc_id, texts already in the store are skipped, and the append is
    * idempotent under replays of the same `batchId`.
    *
    * The against-the-store dedup runs behind a BLOOM PRE-FILTER
    * (`graft_bloom_agg`/`graft_might_contain`): a compact bloom over the
    * store's fingerprints broadcasts to the batch, rows the bloom has
    * definitely never seen skip the anti-join entirely, and only the
    * (rare) possible-duplicate rows pay the exact join — false
    * positives are caught there, false negatives cannot occur. In
    * steady state most of a batch is new, so the shuffle input shrinks
    * to a sliver; at warehouse scale the bloom would be maintained
    * incrementally rather than re-aggregated per batch. */
  def ingestBatch(spark: SparkSession, base: String, batch: DataFrame,
      batchId: Long, minQuality: Double = 0.2,
      bloomBits: Long = 1L << 22,
      dsirModel: Option[Map[Long, Long]] = None,
      minLogWeight: Double = 0.0,
      logregModel: Option[Map[Long, Long]] = None,
      minPMicros: Long = 500000L): Unit =
    SnapshotStore.commitAppend(spark, base,
      freshRows(spark, base, batch, minQuality, bloomBits, dsirModel,
        minLogWeight, logregModel, minPMicros),
      tag = Some(s"ingest-$batchId"))

  /** The gate + exact-dedup core of [[ingestBatch]], WITHOUT the
    * landing commit: returns the batch rows that survive the quality /
    * model gates, in-batch fingerprint collapse, and the bloom-
    * prefiltered anti-join against what `base` already holds (plus the
    * `fp` fingerprint column). [[pipelineBatch]] reuses it so the
    * composed pipeline can run near-dedup on exactly the rows plain
    * ingest would land. */
  def freshRows(spark: SparkSession, base: String, batch: DataFrame,
      minQuality: Double = 0.2,
      bloomBits: Long = 1L << 22,
      dsirModel: Option[Map[Long, Long]] = None,
      minLogWeight: Double = 0.0,
      logregModel: Option[Map[Long, Long]] = None,
      minPMicros: Long = 500000L): DataFrame = {
    // optional trained gates, both served IN-ROW (literal-map lookup —
    // no join, no state): a Dsir.trainModel target-domain importance
    // cut and/or a Logistic.fit quality-classifier cut — the
    // stream-serving counterparts of batch q_dsir_select /
    // q_logreg_classify
    val dsirGated = dsirModel.fold(batch)(m => batch.filter(
      graft.ops.Dsir.scoreColumn(col("text"), m) >= minLogWeight))
    val gated = logregModel.fold(dsirGated)(m => dsirGated.filter(
      graft.ops.Logistic.scoreColumn(col("text"), m) >= minPMicros))
    val passed = gated
      .filter(TextFunctions.qualityScore(col("text")) >= minQuality)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
    val inBatch = IngestRegistry.firstPerKey(passed, "fp", "doc_id")
    SnapshotStore.read(spark, base) match {
      case Some(existing) =>
        // streaming foreachBatch hands DataFrames bound to a CLONED
        // session with its own function registry — install on both
        graft.GraftExtensions.install(spark)
        graft.GraftExtensions.install(batch.sparkSession)
        // the bloom binary is the broadcast side by definition (a few
        // hundred KB at the default sizing) — might_contain requires a
        // constant filter, so it rides into the plan as a literal
        val bfBytes = existing.agg(
          expr(s"graft_bloom_agg(xxhash64(fp), CAST(${1L << 20} AS BIGINT), " +
            s"CAST($bloomBits AS BIGINT))")).head.getAs[Array[Byte]](0)
        if (bfBytes == null) inBatch // store holds zero rows
        else {
          val probed = inBatch.withColumn("__maybe",
            call_function("graft_might_contain", lit(bfBytes), xxhash64(col("fp"))))
          val definiteNew = probed.filter(!col("__maybe")).drop("__maybe")
          val confirmedNew = IngestRegistry.antiJoinLanded(
            probed.filter(col("__maybe")).drop("__maybe"), existing, "fp")
          definiteNew.unionByName(confirmedNew)
        }
      case None => inBatch
    }
  }

  /** The COMPOSED streaming training-data pipeline — one micro-batch of
    * the end-to-end flow the batch q_training_pipeline family gates in
    * isolation: Gopher gate → quality gate + exact dedup (in-batch and
    * against everything landed, [[freshRows]]) → near-dedup against the
    * persisted MinHash band index ([[graft.dedup.MinHashIndex
    * .processBatch]]) → exactly-once landing + eviction records +
    * MV-served monitoring.
    *
    * Landing semantics: every exact-new gated doc lands in the `seen`
    * store at `base` (so exact dedup and the index see the full
    * arrival history), and near-dup verdicts land as EVICTION records
    * in the pairs store at `pairsBase` — an append-only stream cannot
    * retro-delete a doc a later batch reveals as a near-dup, so the
    * serve-time readout ([[servedCorpus]]) anti-joins the evictions
    * (fold them in with a SnapshotStore mutation to compact, exactly
    * the ClickHouse lightweight-delete pattern). Under id-monotone
    * arrival this reproduces the batch pipeline bit-for-bit: the
    * registered q_training_pipeline_stream/q_training_monitor_stream
    * replay it against one DuckDB batch oracle.
    *
    * Monitoring: one additive row per batch (docs in, gated, exact-new,
    * near-dup evictions, landed tokens) lands in a [[graft.sinks
    * .SummingStore]] MV at `mvBase` — the dashboard tier reads
    * MV-cardinality data, never the corpus.
    *
    * Scale posture: composition adds NO corpus-scale work to the
    * stages' own — the gates are per-row maps, exact dedup moves
    * 16-char digests, the index probe touches only this batch's band
    * buckets, and the monitor delta is one aggregate of the batch.
    *
    * CRASH-ATOMIC across the multi-store landing: the seen store is
    * the [[IngestRegistry]] (tag `ingest-$batchId`), so a replay
    * rebuilds every downstream relation from the rows attempt 1
    * landed. */
  def pipelineBatch(spark: SparkSession, base: String, indexBase: String,
      pairsBase: String, mvBase: String, batch: DataFrame, batchId: Long,
      minQuality: Double = 0.2,
      lenMvBase: Option[String] = None): Unit = {
    import graft.functions.TextFunctions
    val nIn = batch.count()
    val gated = batch.filter(
      TextFunctions.gopherSignals(col("text")).getField("passes"))
    val regTag = s"ingest-$batchId"
    val fresh = IngestRegistry.freshOrLanded(spark, base, regTag, batchId)(
      freshRows(spark, base, gated, minQuality))
    try {
      // optional distribution monitor: the landed docs' token-length
      // t-digest GRID histogram is additive (graft.ops.TDigest state),
      // so per-batch (idx, w) deltas land in a SummingStore and the
      // dashboard digests the merged ≤29k-counter state — length-drift
      // quantiles (p1/p50/p99) per refresh WITHOUT rescanning the corpus
      lenMvBase.foreach { lm =>
        graft.sinks.SummingStore.appendDelta(
          graft.ops.TDigest.sketch(fresh,
            TextFunctions.tokenCount(col("text")).cast("long")),
          lm, tag = Some(s"lenmv-$batchId"))
      }
      // replay-exact (MinHashIndex contract) + eagerly materialized
      val pairs = graft.dedup.MinHashIndex.processBatch(spark, indexBase,
        fresh, col("doc_id"), col("text"), tag = s"pipe-$batchId")
      IngestRegistry.failpoint("index")
      SnapshotStore.commitAppend(spark, base, fresh, tag = Some(regTag))
      IngestRegistry.failpoint("registry")
      IngestRegistry.landEvictions(spark, pairsBase, pairs, s"evict-$batchId")
      IngestRegistry.failpoint("evictions")
      val stats = fresh.agg(count(lit(1)).as("n_fresh"),
          coalesce(sum(TextFunctions.tokenCount(col("text")).cast("long")),
            lit(0L)).as("tok_fresh")).head
      val delta = spark.range(1).select(lit(batchId).as("batch_id"),
        lit(nIn).as("n_in"), lit(gated.count()).as("n_gated"),
        lit(stats.getLong(0)).as("n_fresh"),
        lit(pairs.count()).as("n_evicted"),
        lit(stats.getLong(1)).as("tok_fresh"))
      graft.sinks.SummingStore.appendDelta(delta, mvBase,
        tag = Some(s"mv-$batchId"))
    } finally fresh.unpersist()
  }

  /** Serve-time readout of a [[pipelineBatch]] corpus: everything
    * landed minus the eviction records — (doc_id, text, …) of the
    * training-ready documents. */
  def servedCorpus(spark: SparkSession, base: String,
      pairsBase: String): DataFrame =
    IngestRegistry.served(spark, base, pairsBase, "doc_id", "corpus")
}
