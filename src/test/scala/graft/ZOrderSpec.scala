package graft

import org.apache.spark.sql.functions._

import graft.sinks.{SnapshotStore, ZOrder}

/** Z-order layout: multi-dimensional file skipping measured against a
  * linear (single-column sorted) layout of the same data. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = tmpDir(p) + "/store"

  // 100×100 uniform grid: x and y are independent, so a layout sorted
  // on x alone gives y ZERO locality — every file spans all of y.
  private lazy val grid = spark.range(10000)
    .select(col("id"), (col("id") % 100).as("x"), (col("id") / 100).cast("long").as("y"))

  test("z-ordered box read returns exactly the full-scan filter rows") {
    val base = tmp("zbox")
    ZOrder.commitReplaceZOrdered(spark, base, grid, Seq("x", "y"), numFiles = 16)
    val got = ZOrder.readBox(spark, base, Seq(("x", 0.0, 24.0), ("y", 0.0, 24.0)))
      .get.select("id").as[Long].collect().sorted
    val want = grid.filter(col("x").between(0, 24) && col("y").between(0, 24))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === want.toSeq)
    assert(got.length === 625)
  }

  test("building a box read frame over an 8-file z-ordered store runs no job") {
    val base = tmp("zjobs")
    ZOrder.commitReplaceZOrdered(spark, base, grid, Seq("x", "y"), numFiles = 8)
    assert(SnapshotStore.listFiles(spark, base).size === 8)
    var box: Option[org.apache.spark.sql.DataFrame] = None
    val jobs = jobsIn { box = ZOrder.readBox(spark, base, Seq(("x", 0.0, 24.0), ("y", 0.0, 24.0))) }
    assert(jobs === 0, s"building the box frame ran $jobs jobs")
    assert(box.get.count() === 625)
  }

  test("both z dimensions prune files; a linear layout prunes only its sort key") {
    val zBase = tmp("zprune")
    val linBase = tmp("linprune")
    ZOrder.commitReplaceZOrdered(spark, zBase, grid, Seq("x", "y"), numFiles = 16)
    // linear baseline: range-sorted by x only, same file count + stats
    SnapshotStore.commitReplace(spark, linBase,
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      statsCols = Seq("x", "y"))
    assert(SnapshotStore.listFiles(spark, zBase).size === 16)

    // a y-only slice (1/4 of the space): z-order must skip most files,
    // the x-sorted layout can skip none (every file spans all y)
    val ySlice = Seq(("y", 0.0, 24.0))
    val zy = ZOrder.filesOpenedFraction(spark, zBase, ySlice)
    val liny = ZOrder.filesOpenedFraction(spark, linBase, ySlice)
    assert(zy <= 0.5, s"z-order opened $zy of files for a 25% y-slice")
    assert(liny >= 0.9, s"x-sorted baseline unexpectedly pruned y: $liny")

    // the x dimension still prunes on BOTH layouts
    val xSlice = Seq(("x", 0.0, 24.0))
    assert(ZOrder.filesOpenedFraction(spark, zBase, xSlice) <= 0.5)
    assert(ZOrder.filesOpenedFraction(spark, linBase, xSlice) <= 0.5)

    // a 2-D box (1/16 of the space) intersects the per-dim prunes
    val box = Seq(("x", 0.0, 24.0), ("y", 0.0, 24.0))
    val zbox = ZOrder.filesOpenedFraction(spark, zBase, box)
    assert(zbox <= 0.3, s"z-order opened $zbox of files for a 1/16 box")
  }

  test("appends degrade clusterHealth; recluster restores layout and skipping") {
    val base = tmp("zhealth")
    ZOrder.commitReplaceZOrdered(spark, base, grid, Seq("x", "y"), numFiles = 16)
    // ~0.25 for 16 ideal tiles; range-partition boundaries straddle
    // tiles so measured ≈ 0.17 — the test's real claims are RELATIVE
    val h0 = ZOrder.clusterHealth(spark, base, "x")
    assert(h0 >= 0.12, s"fresh 2-D layout health $h0")

    // 8 raw appends of full-span rows: each overlaps everything
    (0 until 8).foreach { i =>
      SnapshotStore.commitAppend(spark, base,
        grid.filter(col("id") % 97 === i).repartition(1),
        statsCols = Seq("x", "y"))
    }
    val hDegraded = ZOrder.clusterHealth(spark, base, "x")
    assert(hDegraded <= h0 / 2, s"appends did not degrade health: $h0 -> $hDegraded")
    // every appended file must be opened for any slice: (4 tiles + 8
    // appended) of 24 files ≈ 0.5, vs 0.25 on the fresh layout
    val fracDegraded = ZOrder.filesOpenedFraction(spark, base, Seq(("y", 0.0, 24.0)))
    assert(fracDegraded >= 0.45, s"degraded layout unexpectedly still skips: $fracDegraded")

    ZOrder.recluster(spark, base, Seq("x", "y"), numFiles = 16)
    val hRestored = ZOrder.clusterHealth(spark, base, "x")
    // NOT compared against h0 at a tight ratio: repartitionByRange
    // samples its boundaries with a seed derived from the RDD id, so
    // tile straddling varies a few percent with SESSION HISTORY (an
    // unrelated suite creating more RDDs shifts the ids — measured
    // 0.76·h0 vs 0.80·h0 across otherwise-identical runs). The robust
    // claims: restored health clears the same absolute floor as a
    // fresh layout, and sits well above the degraded state.
    assert(hRestored >= 0.12 && hRestored >= hDegraded * 1.5,
      s"recluster did not restore health: $hRestored (fresh $h0, degraded $hDegraded)")
    assert(ZOrder.filesOpenedFraction(spark, base, Seq(("y", 0.0, 24.0))) <= 0.5)
    // content unchanged by the re-layout (the appended duplicates
    // survive on both sides of the recluster)
    val n = SnapshotStore.read(spark, base).get.count()
    assert(n === 10000L + (0L until 10000L).count(id => id % 97 <= 7))
  }

  test("skew, nulls and degenerate ranges don't break the layout") {
    val base = tmp("zdegen")
    val df = spark.range(1000)
      .select(col("id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 10).as("x"),
        lit(42L).as("y")) // constant dim: span 0 → all rows bucket 0
    ZOrder.commitReplaceZOrdered(spark, base, df, Seq("x", "y"), numFiles = 4)
    val n = SnapshotStore.read(spark, base).get.count()
    assert(n === 1000)
    val boxed = ZOrder.readBox(spark, base, Seq(("y", 42.0, 42.0))).get.count()
    assert(boxed === 1000)
  }
}
