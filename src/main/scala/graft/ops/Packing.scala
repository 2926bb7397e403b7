package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Sequence PACKING — the batching step every LLM training pipeline
  * runs between the curated corpus and the data loader: documents are
  * concatenated in a deterministic order and the token stream is cut
  * into fixed-length training sequences ("concat-and-chunk", the
  * standard GPT-style packing; the alternatives — greedy bin packing —
  * trade determinism and shuffle-freedom for a few % less fragmenta-
  * tion and are NOT what large pretraining runs use). The deliverable
  * is the per-document placement ledger: which sequence a doc starts
  * in, at what offset, and how many sequences it spans — the numbers a
  * loader needs to materialize any shard independently, and the
  * fragmentation measure data engineers tune seqLen against.
  *
  * Determinism: docs order by id ASC (a total order), token counts are
  * the whitespace ledger ([[TextFunctions.tokenCount]]), and every
  * output column is pure integer arithmetic on the exclusive prefix
  * sum — bit-identical across partitionings and engines, so the whole
  * ledger hash-gates against the oracle.
  *
  * Scale: the prefix sum is a [[Prefix.running]] sum over id buckets
  * (in-bucket windows plus a ≤|buckets|-row carry), never a global
  * one-task window over the corpus. Everything after is per-row
  * arithmetic.
  *
  * Output: (doc_id, n_tok, seq_first, off_first, seq_last, n_seqs)
  * with seq = tokenPos / seqLen, off = tokenPos % seqLen.
  */
object Packing {

  /** Exact ⌊n/den⌋ for non-negative longs via [[TDigest.exactDiv]]'s
    * DECIMAL route: the global token prefix sum this divides is
    * corpus-proportional and passes 2^53 well before 100 TB — double
    * division would lose ulps exactly where the ledger must stay
    * bit-exact. */
  private def floorDiv(n: Column, den: Column): Column =
    TDigest.exactDiv(n, den)

  def packSequences(docs: DataFrame, id: Column, text: Column,
      seqLen: Long, bucketWidth: Long = 1L << 20): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val d = docs.select(id.cast("long").as("doc_id"),
      TextFunctions.tokenCount(text).cast("long").as("n_tok"))
    // the one shared exchange keeps the corpus tokenization to one pass
    // (PlanSpec pins the reuse); a null id is out of the dense-id
    // contract and dropped
    val st = col("st")
    val en = st + col("n_tok") - 1
    Prefix.running(d.withColumn("b", floorDiv(col("doc_id"), lit(bucketWidth))),
        Nil, "b", Seq(col("doc_id")), Seq("st" -> col("n_tok")),
        Prefix.Sum, Prefix.ExclusiveRows)
      .select(col("doc_id"), col("n_tok"),
        floorDiv(st, lit(seqLen)).as("seq_first"),
        pmod(st, lit(seqLen)).as("off_first"),
        floorDiv(en, lit(seqLen)).as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** Packing efficiency summary over a [[packSequences]] ledger:
    * total docs/tokens/sequences, how many docs CROSS a sequence
    * boundary (the fragmentation count), and the last sequence's fill
    * in token units — the one-row dashboard a seqLen sweep compares. */
  def packStats(packed: DataFrame, seqLen: Long): DataFrame =
    packed.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      (max(col("seq_last")) + 1).as("n_seqs"),
      sum(when(col("n_seqs") > 1, 1L).otherwise(0L)).as("n_crossing"),
      (sum(col("n_tok")) - max(col("seq_last")) * seqLen).as("last_fill"))

  /** DuckDB replica of [[packSequences]] over `documents` (the oracle
    * may use the single global window the engine may not). */
  def packOracleSql(seqLen: Long): String =
    raw"""WITH d AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents),
c AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st FROM d)
SELECT doc_id, n_tok, st // $seqLen AS seq_first, st % $seqLen AS off_first,
 (st + n_tok - 1) // $seqLen AS seq_last,
 (st + n_tok - 1) // $seqLen - st // $seqLen + 1 AS n_seqs
FROM c"""

  /** DuckDB replica of [[packStats]] ∘ [[packSequences]]. */
  def packStatsOracleSql(seqLen: Long): String =
    s"""WITH p AS (${packOracleSql(seqLen)})
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
 CAST(max(seq_last) + 1 AS BIGINT) AS n_seqs,
 CAST(sum(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
 CAST(sum(n_tok) - max(seq_last) * $seqLen AS BIGINT) AS last_fill
FROM p"""
}
