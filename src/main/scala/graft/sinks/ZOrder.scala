package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for multi-dimensional file
  * skipping. A snapshot sorted on one column gives tight per-file
  * min/max ranges on THAT column only; every secondary predicate still
  * opens all files. Interleaving the bits of several columns' bucket
  * ranks and range-partitioning on the interleaved value gives every
  * participating column locality, so [[SnapshotStore.pruneFiles]] can
  * skip on ANY of them — the standard layout trick (Delta/Iceberg
  * OPTIMIZE ZORDER BY) a 100 TB table needs when queries filter on
  * more than one axis.
  *
  * Everything is expression-level and map-only after a single one-row
  * min/max collect per dimension (driver state: 2·n doubles):
  * bucketize each dim to `bits` bits against its observed range, then
  * interleave with shift/AND/OR Column ops — whole-stage codegen, no
  * UDF. The z value is a layout key only: it is dropped before the
  * write, never part of the data contract, so oracles are unaffected.
  */
object ZOrder {

  /** Bits per dimension; n dims must fit a signed long. */
  val BitsPerDim = 16

  /** Bucket rank of `c` in [0, 2^bits) against the fixed range
    * [lo, hi] (observed min/max). Out-of-range and null values clamp
    * to the edge buckets — layout-only, so clamping is harmless. */
  private def bucket(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val span = hi - lo
    val max = (1L << bits) - 1
    val raw =
      if (span <= 0) lit(0L)
      else floor((c.cast("double") - lit(lo)) / lit(span) * lit(max + 1)).cast("long")
    least(lit(max), greatest(lit(0L), coalesce(raw, lit(0L))))
  }

  /** The interleaved z value of `dims` buckets: bit i of dim d lands at
    * position i·n + d. 16·n OR terms — wide but codegen'd, no shuffle. */
  private def interleave(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      dims.zipWithIndex.foldLeft(acc) { case (a, (b, d)) =>
        a.bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + d))
      }
    }
  }

  /** `df` re-laid-out along the z-curve of `cols`: one stats pass
    * (one-row collect) fixes each dim's range, then range-partition +
    * in-partition sort on the interleaved value clusters rows so each
    * of the `numFiles` output files covers a compact z-range — i.e. a
    * small hyper-rectangle set in (col₁, …, colₙ) space. */
  def layout(df: DataFrame, cols: Seq[String], numFiles: Int,
      bits: Int = BitsPerDim): DataFrame = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"${cols.size} dims at $bits bits/dim overflow a signed long")
    require(numFiles > 0, "numFiles must be positive")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"lo_$c"), max(col(c)).cast("double").as(s"hi_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val dims = cols.zipWithIndex.map { case (c, i) =>
      val lo = Option(stats.getAs[java.lang.Double](2 * i)).map(_.doubleValue).getOrElse(0.0)
      val hi = Option(stats.getAs[java.lang.Double](2 * i + 1)).map(_.doubleValue).getOrElse(0.0)
      bucket(col(c), lo, hi, bits)
    }
    df.withColumn("__z", interleave(dims, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Full-replace commit in z-order, recording per-file min/max for the
    * z columns so every one of them prunes at read time. */
  def commitReplaceZOrdered(spark: SparkSession, base: String, df: DataFrame,
      zCols: Seq[String], numFiles: Int, extraStatsCols: Seq[String] = Nil): Unit =
    SnapshotStore.commitReplace(spark, base, layout(df, zCols, numFiles),
      partitionBy = Nil, statsCols = (zCols ++ extraStatsCols).distinct)

  /** Multi-dimensional box read: prune the file list on EVERY bounded
    * column's recorded stats (metadata only, one manifest resolve), then
    * apply the exact row-level conjunction — result is exactly the
    * full-scan filter's. None when every file was skipped. */
  def readBox(spark: SparkSession, base: String,
      bounds: Seq[(String, Double, Double)]): Option[DataFrame] = {
    require(bounds.nonEmpty, "at least one bound")
    SnapshotStore.readBox(spark, base, bounds)
  }

  /** Fraction of the snapshot's files a box read opens — the measured
    * skipping ratio tests and scale probes assert on. */
  def filesOpenedFraction(spark: SparkSession, base: String,
      bounds: Seq[(String, Double, Double)]): Double = {
    val all = SnapshotStore.listFiles(spark, base).size.toDouble
    if (all == 0) 0.0
    else bounds
      .map { case (c, lo, hi) => SnapshotStore.pruneFiles(spark, base, c, lo, hi).toSet }
      .reduce(_ intersect _).size / all
  }

  /** Clustering health of `column`: 1 − (mean files whose [min,max]
    * range CONTAINS a random point, normalized). Appends degrade a
    * layout — every unclustered file overlaps everything and drags the
    * metric toward 0; a perfectly clustered table (disjoint ranges)
    * scores 1. Pure manifest metadata, O(n log n) sorted sweep over
    * the file count — no data IO. Files without stats count as
    * full-overlap (they are opened by every read anyway). Returns 1.0
    * for tables of ≤1 file. */
  def clusterHealth(spark: SparkSession, base: String, column: String): Double = {
    val st = SnapshotStore.fileStats(spark, base)
    val all = SnapshotStore.listFiles(spark, base)
    val n = all.size
    if (n <= 1) return 1.0
    val ranges = all.map(f => st.get(f).flatMap(_.get(column)))
    val known = ranges.flatten
    if (known.isEmpty) return 0.0
    val globalLo = known.map(_._1).min
    val globalHi = known.map(_._2).max
    val span = math.max(globalHi - globalLo, java.lang.Double.MIN_NORMAL)
    // expected number of files a uniform random point hits = Σ len_i /
    // span (statless files hit always); ideal (disjoint cover) = 1
    val expectedHits = ranges.map {
      case Some((lo, hi)) => math.min(1.0, math.max(hi - lo, 0.0) / span)
      case None => 1.0
    }.sum
    // map [1 (ideal) … n (every file spans everything)] → (0, 1]
    math.min(1.0, 1.0 / math.max(expectedHits, 1.0))
  }

  /** OPTIMIZE ZORDER analog: re-lay-out the whole live snapshot along
    * the z-curve in one atomic replace. The health metric is RELATIVE:
    * an ideal n-D z-layout over F files scores ~F^(1/n)/F per dim (each
    * file's per-dim span is the tile width), and every full-span
    * append file adds 1 to the expected hit count — so record the
    * post-layout baseline and recluster when health falls to a
    * fraction of it (the ZOrderSpec maintenance test shows a 16-file
    * 2-D layout at 0.25 dropping ~3× after 8 raw appends). At 100 TB,
    * recluster per PARTITION (date) via commitReplacePartition-style
    * scoping rather than whole-table. */
  def recluster(spark: SparkSession, base: String, zCols: Seq[String],
      numFiles: Int, extraStatsCols: Seq[String] = Nil): Unit = {
    val df = SnapshotStore.read(spark, base)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $base"))
    commitReplaceZOrdered(spark, base, df, zCols, numFiles, extraStatsCols)
  }
}
