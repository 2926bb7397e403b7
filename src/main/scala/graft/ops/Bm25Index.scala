package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sinks.SnapshotStore

/** Materialized BM25 inverted index — the amortized-build production
  * path that [[Retrieval]]'s own docs name: instead of re-scanning the
  * corpus per query (right for a fixed small term set, wrong for a
  * query WORKLOAD), the index is built once and maintained
  * incrementally, and each query touches only the postings of its own
  * terms.
  *
  * Layout (two [[SnapshotStore]] tables under one base dir):
  *  - `postings` — (term, doc_id, dl, tf): one row per distinct
  *    (term, doc) pair. Production-sized stores lay out in
  *    `term_bucket=pmod(md5Long(term), N)/` partition directories
  *    (r16; see [[TermBuckets]]/[[PartitionMinBytesKey]]) so the
  *    query-side term filter prunes DIRECTORIES before any data IO —
  *    a query scans ~|query-term buckets|/N of the postings bytes,
  *    never the corpus. Fixture-sized stores stay flat (measured: the
  *    partition-dir staging costs more than fixture-scale pruning
  *    saves); a store's layout is decided at creation and kept.
  *  - `doclens` — (doc_id, dl): the document-length table BM25's
  *    normalization needs; also supplies corpus stats (N, Σdl) with a
  *    one-pass agg over a table ~1/1000 the corpus bytes.
  *
  * Incremental maintenance: [[maintain]] drives [[SnapshotStore.processNew]]
  * over a corpus store — each new corpus commit appends its docs'
  * postings/doclens (disjoint doc_ids ⇒ append-correct), exactly-once
  * via the store's checkpoint. df/N/Σdl are derived at query time from
  * the index tables, so they stay correct under appends with no
  * stats-invalidation logic.
  *
  * Determinism: scores are BIT-IDENTICAL to [[Retrieval.bm25TopK]] —
  * per-term tf slots are aggregated into fixed positions and summed in
  * the same left-to-right term order (adding an exact 0.0 for absent
  * terms, which is the identity the brute force also produces), avgdl
  * is the same exact-BIGINT Σdl/N, each term scores through the same
  * [[Retrieval.bm25Term]], and the same floor-4 rounding applies.
  * q_bm25_indexed therefore shares q_bm25_topk's oracle.
  */
object Bm25Index {

  /** Number of term-hash partitions the postings store is laid out in
    * (r16, guide §6 "partitioning on write determines how well readers
    * can skip data"): postings commit under
    * `term_bucket=pmod(md5Long(term), N)/` directories, so a query's
    * term filter becomes DIRECTORY pruning — the scan opens ~|terms|/N
    * of the postings bytes instead of all of them, before parquet
    * row-group pushdown prunes further inside the survivors. Raw
    * `partitionBy(term)` (the naive form) would create a
    * vocabulary-sized directory tree — millions of tiny files at
    * corpus scale (guide §6 "small files hurt twice") — so the layout
    * key is a bounded hash bucket, the standard high-cardinality
    * partitioning compromise. Writes repartition by the bucket first
    * (guide §6 "coalesce on write"), so a commit adds at most N files.
    * The bucket count is a LAYOUT property of the store: readers and
    * writers of one index must use one value, or the query side would
    * compute the wrong buckets and silently skip postings — hence a
    * constant, not a session setting. */
  val TermBuckets = 64

  /** The bucketed layout engages only when the FIRST postings batch's
    * Catalyst size estimate reaches this many bytes (measured r16,
    * sf0.1: partition-dir staging costs ~+0.25 s per commit — per-dir
    * mkdir/rename plus the bucket repartition — while pruning a
    * fixture-sized postings read saves ~nothing, so a small store is
    * better off flat; a production store's first landing crosses the
    * threshold and every later commit follows the store's existing
    * layout). 0 forces bucketing (how the 10× probe and the PlanSpec
    * pin exercise the pruned path). The layout is decided ONCE per
    * store — mixed flat/bucketed commits would break partition
    * discovery — by probing the live snapshot's schema. */
  val PartitionMinBytesKey = "spark.graft.bm25.partitionMinBytes"
  val PartitionMinBytesDefault: Long = 64L << 20

  /** Whether this store is (or should become) term-bucket partitioned:
    * an existing store keeps its layout; a new store buckets when the
    * incoming batch is big enough. */
  private def bucketedLayout(spark: SparkSession, indexBase: String,
      firstBatch: DataFrame): Boolean = {
    SnapshotStore.read(spark, postingsBase(indexBase)) match {
      case Some(existing) => existing.columns.contains("term_bucket")
      case None =>
        val minBytes = spark.conf
          .get(PartitionMinBytesKey, PartitionMinBytesDefault.toString).toLong
        firstBatch.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(minBytes)
    }
  }

  /** Driver-side replica of [[TextFunctions.md5Long]] (first 15 hex
    * chars of md5, parsed base-16 — always in [0, 2^60)), used to map
    * QUERY terms to their layout buckets without a Spark job. */
  private[ops] def md5LongLocal(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Postings rows for a doc batch: (term, doc_id, dl, tf). One
    * explode + one (term, doc) hash-agg — map-side combinable. */
  def postingsOf(docs: DataFrame, id: Column, text: Column): DataFrame =
    Retrieval.tokenized(docs, id, text)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))

  /** Doc-length rows for a doc batch: (doc_id, dl). */
  def doclensOf(docs: DataFrame, id: Column, text: Column): DataFrame =
    Retrieval.tokenized(docs, id, text).select("doc_id", "dl")

  private def postingsBase(indexBase: String) = s"$indexBase/postings"
  private def doclensBase(indexBase: String) = s"$indexBase/doclens"

  /** Append one doc batch to the index (both tables), idempotent under
    * replay via the SnapshotStore dedupe tag.
    *
    * r15 (guide §2.6 "overlap independent jobs"): the postings and
    * doclens commits are INDEPENDENT (different stores, each with its
    * own idempotence tag), so they run concurrently from two driver
    * threads instead of back-to-back — the scheduler back-fills the
    * first commit's task tail with the second's tasks, hiding one
    * commit latency per maintenance cycle. Failure semantics are
    * unchanged: if either lands and the other dies, the replay's
    * per-store tags no-op the landed one and land the missing one
    * (exactly the maintain/processNew at-least-once contract). */
  def appendBatch(spark: SparkSession, indexBase: String, docs: DataFrame,
      id: Column, text: Column, tag: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val raw = postingsOf(docs, id, text)
    val bucketed = bucketedLayout(spark, indexBase, raw)
    val postRows =
      if (!bucketed) raw
      else raw
        .withColumn("term_bucket",
          pmod(TextFunctions.md5Long(col("term")),
            lit(TermBuckets.toLong)).cast("int"))
        .repartition(col("term_bucket"))
    val posts = Future(SnapshotStore.commitAppend(spark, postingsBase(indexBase),
      postRows,
      partitionBy = if (bucketed) Seq("term_bucket") else Nil,
      tag = Some(s"postings-$tag")))
    val lens = Future(SnapshotStore.commitAppend(spark, doclensBase(indexBase),
      doclensOf(docs, id, text), tag = Some(s"doclens-$tag")))
    Await.result(posts, Duration.Inf)
    Await.result(lens, Duration.Inf)
  }

  /** Catch the index up with a corpus SnapshotStore: index every corpus
    * commit newer than the checkpoint (exactly-once). Returns the
    * corpus version indexed up to, None if already current. The corpus
    * table must be append-only (docs are immutable in the training
    * pipeline); replacing/deleting docs needs a rebuild. */
  def maintain(spark: SparkSession, corpusBase: String, indexBase: String,
      id: String = "doc_id", text: String = "text"): Option[Long] =
    SnapshotStore.processNew(spark, corpusBase, s"$indexBase/_corpus_ck") {
      (df, v) => appendBatch(spark, indexBase, df, col(id), col(text), s"v$v")
    }

  /** Top-k documents by BM25 via the index — same output contract and
    * bit-identical scores to [[Retrieval.bm25TopK]]. The corpus is
    * never touched: term-pruned postings + the doclens table are the
    * only inputs. */
  def bm25TopK(spark: SparkSession, indexBase: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val postings = SnapshotStore.read(spark, postingsBase(indexBase))
      .getOrElse(throw new IllegalStateException(s"no postings at $indexBase"))
    val doclens = SnapshotStore.read(spark, doclensBase(indexBase))
      .getOrElse(throw new IllegalStateException(s"no doclens at $indexBase"))

    // term-pruned postings: the bucket predicate prunes DIRECTORIES
    // (the scan opens ~|query term buckets|/N of the store — guide §6;
    // PartitionFilters in the plan), the term predicate then prunes
    // row groups and rows inside the surviving files
    val matched =
      if (!postings.columns.contains("term_bucket"))
        postings.filter(col("term").isInCollection(terms))
      else {
        val wantedBuckets = terms.map(t => (md5LongLocal(t) % TermBuckets).toInt).distinct
        postings
          .filter(col("term_bucket").isInCollection(wantedBuckets) &&
            col("term").isInCollection(terms))
          .select("term", "doc_id", "dl", "tf")
      }

    // single stats row: N + Σdl from doclens, per-term df from the
    // pruned postings (df = # postings of the term) — broadcastable
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("term") === t, 1L).otherwise(0L)), lit(0L)).as(s"df_$i")
    }
    val dfRow = matched.groupBy().agg(dfAggs.head, dfAggs.tail: _*)
    val nRow = doclens.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    val stats = nRow.crossJoin(dfRow)

    // fixed tf slots per doc: one posting per (term, doc), so the sum
    // just places it; absent terms become exact 0.0 contributions below
    val slotAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf"))).as(s"tf_$i")
    }
    val perDoc = matched.groupBy("doc_id", "dl").agg(slotAggs.head, slotAggs.tail: _*)

    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n"))
    val termScores = terms.indices.map { i =>
      Retrieval.bm25Term(col(s"df_$i").cast("double"),
        coalesce(col(s"tf_$i"), lit(0L)).cast("double"), k1, b)
    }
    val score = termScores.reduce(_ + _)
    val matchedScores = scored.select(col("doc_id"),
      (floor(score * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("score"))

    // docs with no query term score an exact 0.0 in the brute force and
    // can surface in the top-k only when matches are scarce — pad from
    // the (small) doclens table, never the corpus
    val zeroScores = doclens
      .join(matchedScores.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0.0).as("score"))

    matchedScores.union(zeroScores)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
  }
}
