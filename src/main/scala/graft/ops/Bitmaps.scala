package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ClickHouse bitmap-aggregate analog (`groupBitmap`,
  * `bitmapCardinality`, `bitmapAnd/Or/XorCardinality`,
  * `bitmapAndnot`): audience-segment set algebra over integer ids,
  * the idiom ClickHouse serves with RoaringBitmap state
  * (reference-context: segment overlap dashboards over the engagement
  * stream's user ids).
  *
  * Spark-first representation: a bitmap is not an opaque blob but the
  * RELATION (key, w, bits) — word index w = id >> 6, bits = the 64-id
  * occupancy word. That keeps every bitmap operation inside
  * whole-stage codegen (`bit_or` aggregate, `&`/`|`/`bit_count`
  * expressions), makes the state map-side combinable AND mergeable by
  * construction (union two builds, re-aggregate `bit_or` — the
  * AggregatingMergeTree posture; see the merge law in
  * SketchGraphOpsSpec), and lets the shuffle do what Roaring's
  * containers do: only NON-EMPTY words materialize, so dense segments
  * compress up to 64× against the distinct-(key, id) relation while
  * sparse segments cost one row per id — the same asymptotics, no
  * custom buffer class.
  *
  * Contract: ids must be non-negative (ClickHouse bitmaps are UInt;
  * negative ids would shift-wrap silently).
  *
  * Scale posture: `build` is one hash aggregate, linear, skew-immune
  * (partial `bit_or` combines map-side). Pairwise AND joins bitmap
  * relations on w — output per word is bounded by |segments|², and
  * OR/XOR/ANDNOT cardinalities derive from |A|, |B|, |A∩B| without
  * any join (|A∪B| = |A|+|B|−|A∩B|; |A⊕B| = |A|+|B|−2|A∩B|;
  * |A∖B| = |A|−|A∩B|), so only the intersection ever shuffles.
  */
object Bitmaps {

  /** Per-key word-level bitmap relation: (key, w, bits). One hash
    * aggregate; bits accumulate via partial `bit_or`. */
  def build(df: DataFrame, key: Column, id: Column): DataFrame =
    df.select(key.as("key"), id.as("v"))
      .select(col("key"), shiftright(col("v"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(v, 64) AS INT))")
          .as("bit"))
      .groupBy(col("key"), col("w"))
      .agg(expr("bit_or(bit)").as("bits"))

  /** `bitmapCardinality` per key: Σ bit_count(bits). */
  def cardinality(bitmap: DataFrame): DataFrame =
    bitmap.groupBy(col("key"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("card"))

  /** All unordered segment pairs with the full cardinality algebra:
    * (seg_a, seg_b, card_a, card_b, and_card, or_card, xor_card,
    * andnot_card = |A∖B|, jaccard r6 — null when the union is empty).
    *
    * Plan: one bitmap build, one |segments|-row cardinality table
    * (broadcast into the pair frame), and ONE word-aligned self-join
    * for the intersections — everything else is arithmetic on the
    * |segments|²-row pair table. Missing pairs (empty intersection)
    * are kept via the cardinality cross join + coalesce(0). */
  def segmentOverlap(df: DataFrame, seg: Column, id: Column): DataFrame = {
    val bm = build(df, seg, id)
    val card = cardinality(bm)
    val pairs = broadcast(card.select(col("key").as("seg_a"),
        col("card").as("card_a")))
      .join(broadcast(card.select(col("key").as("seg_b"),
        col("card").as("card_b"))),
        col("seg_a") < col("seg_b"))
    val andC = bm.select(col("key").as("seg_a"), col("w"),
        col("bits").as("ba"))
      .join(Joins.corpusSide(bm.select(col("key").as("seg_b"), col("w"),
        col("bits").as("bb"))), Seq("w"))
      .filter(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(sum(expr("bit_count(ba & bb)")).cast("long").as("and_card"))
    val joined = pairs.join(andC, Seq("seg_a", "seg_b"), "left")
      .withColumn("and_card", coalesce(col("and_card"), lit(0L)))
    val orC = col("card_a") + col("card_b") - col("and_card")
    joined.select(col("seg_a"), col("seg_b"), col("card_a"), col("card_b"),
      col("and_card"), orC.as("or_card"),
      (col("card_a") + col("card_b") - lit(2L) * col("and_card"))
        .as("xor_card"),
      (col("card_a") - col("and_card")).as("andnot_card"),
      when(orC > 0, floor(col("and_card").cast("double") /
        orC.cast("double") * lit(1e6) + lit(0.5)) / lit(1e6)).as("jaccard"))
  }

  /** ClickHouse `bitmapMin`/`bitmapMax` analog: smallest and largest
    * id per key, read off the bitmap relation without touching raw
    * ids — one struct-min/max over (w, bits) picks the extreme words,
    * then branch-free bit arithmetic finds the extreme bit:
    * lsb index = bit_count((b & −b) − 1), msb index = bit_count of the
    * bit-smeared word (OR-cascade of static unsigned shifts) − 1.
    * Everything is codegen'd integer ops; no dynamic shifts, no UDF.
    *
    * Output: (key, min_id, max_id). */
  def minMax(bitmap: DataFrame): DataFrame = {
    val ext = bitmap.groupBy(col("key"))
      .agg(min(struct(col("w"), col("bits"))).as("lo"),
        max(struct(col("w"), col("bits"))).as("hi"))
    // a word holding ONLY bit 63 is Long.MinValue: its negation (and
    // isolated-bit minus 1) overflows under ANSI — special-case it;
    // every other word negates/decrements safely
    val lsbIdx = when(col("lo.bits") === Long.MinValue, lit(63L))
      .otherwise(expr("bit_count((lo.bits & -lo.bits) - 1)").cast("long"))
    // smear all bits below the msb, then count: msb_idx = popcount − 1
    val smeared = Seq(1, 2, 4, 8, 16, 32).foldLeft(col("hi.bits")) {
      (acc, s) => acc.bitwiseOR(shiftrightunsigned(acc, s))
    }
    val msbIdx = (bit_count(smeared) - lit(1)).cast("long")
    ext.select(col("key"),
      (col("lo.w") * lit(64L) + lsbIdx).as("min_id"),
      (col("hi.w") * lit(64L) + msbIdx).as("max_id"))
  }

  /** DuckDB replica of [[minMax]]∘[[build]] over
    * (event_type, user_id): plain min/max — valid because the bitmap
    * relation is exact. */
  val minMaxOracleSql: String =
    """SELECT event_type AS key, min(user_id) AS min_id, max(user_id) AS max_id
FROM events GROUP BY 1"""

  // ------------------------------------------------- live bitmap MV

  /** foreachBatch sink for a LIVE segment-bitmap MV (the streaming
    * twin of [[build]], the `groupBitmapState` + AggregatingMergeTree
    * posture): land each micro-batch's bitmap relation as one part,
    * idempotent by batch id — a foreachBatch retry re-offers the same
    * batchId and the tag probe makes the duplicate a no-op. Because
    * `bit_or` is idempotent AND commutative, the merged state is
    * bit-identical to a one-shot build over the whole stream
    * regardless of batch boundaries or replay — exactly-once
    * cardinalities without exactly-once delivery. */
  def bitmapSink(key: Column, id: Column,
      mvPath: String): (DataFrame, Long) => Unit = (batch, batchId) =>
    graft.sinks.SnapshotStore.commitAppend(batch.sparkSession, mvPath,
      build(batch, key, id), tag = Some(s"bm-b$batchId"))

  /** Merge-on-read: OR-combine every part per (key, w). None before
    * the first part lands. */
  def readBitmap(spark: org.apache.spark.sql.SparkSession,
      mvPath: String): Option[DataFrame] =
    graft.sinks.SnapshotStore.read(spark, mvPath)
      .map(_.groupBy(col("key"), col("w"))
        .agg(expr("bit_or(bits)").as("bits")))

  /** Serving read: exact per-segment distinct cardinalities over the
    * incrementally-maintained bitmap — same output contract as the
    * batch [[cardinality]]∘[[build]]. */
  def servedCardinality(spark: org.apache.spark.sql.SparkSession,
      mvPath: String): Option[DataFrame] =
    readBitmap(spark, mvPath).map(cardinality)

  /** OPTIMIZE analog: collapse the parts to one merged part,
    * atomically — bounds part count independently of stream
    * lifetime. */
  def compact(spark: org.apache.spark.sql.SparkSession,
      mvPath: String): Unit =
    readBitmap(spark, mvPath)
      .foreach(m => graft.sinks.SnapshotStore.commitReplace(spark, mvPath, m))

  /** DuckDB replica of [[segmentOverlap]] over
    * (event_type, user_id): plain distinct-set algebra — valid
    * because the word-level representation is exact. */
  val segmentOverlapOracleSql: String =
    """WITH s AS (SELECT DISTINCT event_type AS seg, user_id AS v FROM events),
card AS (SELECT seg, count(*) AS card FROM s GROUP BY 1),
pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.card AS card_a, b.card AS card_b
 FROM card a JOIN card b ON a.seg < b.seg),
andc AS (SELECT x.seg AS seg_a, y.seg AS seg_b, count(*) AS and_card
 FROM s x JOIN s y ON x.v = y.v AND x.seg < y.seg GROUP BY 1, 2),
j AS (SELECT p.seg_a, p.seg_b, p.card_a, p.card_b,
 coalesce(a.and_card, 0) AS and_card
 FROM pairs p LEFT JOIN andc a ON p.seg_a = a.seg_a AND p.seg_b = a.seg_b)
SELECT seg_a, seg_b, CAST(card_a AS BIGINT) AS card_a,
 CAST(card_b AS BIGINT) AS card_b, CAST(and_card AS BIGINT) AS and_card,
 CAST(card_a + card_b - and_card AS BIGINT) AS or_card,
 CAST(card_a + card_b - 2*and_card AS BIGINT) AS xor_card,
 CAST(card_a - and_card AS BIGINT) AS andnot_card,
 CASE WHEN card_a + card_b - and_card > 0
  THEN floor(CAST(and_card AS DOUBLE)/CAST(card_a + card_b - and_card AS DOUBLE)*1e6+0.5)/1e6
 END AS jaccard
FROM j"""
}
