package graft

import org.apache.spark.sql.functions._

/** ProjectionRouting semantics on a synthetic table: the routed read
  * must equal the base full-scan filter bit-for-bit, prune a selective
  * box to a fraction of the files, and DECLINE (plan untouched) when
  * the predicate gives it nothing to prune on. (q_projection_routed
  * oracle-gates the routed result corpus-wide and pins the <= 35%
  * opened-file bound in-query.) */
class ProjectionRoutingSpec extends SparkSpec {

  private lazy val stores = {
    val tmp = tmpDir("graft_projspec")
    val factPath = s"$tmp/fact"
    val projBase = s"$tmp/proj"
    spark.range(0, 50000).select(col("id"),
        pmod(col("id") * 7, lit(1000)).cast("long").as("x"),
        pmod(col("id") * 13, lit(1000)).cast("long").as("y"))
      .write.mode("overwrite").parquet(factPath)
    graft.sinks.ZOrder.commitReplaceZOrdered(spark, projBase,
      spark.read.parquet(factPath), zCols = Seq("x", "y"), numFiles = 32)
    (factPath, projBase)
  }

  private def withRule[A](f: => A): A = {
    val (factPath, projBase) = stores
    val rule = graft.plans.ProjectionRouting(spark, factPath, projBase,
      zCols = Seq("x", "y"))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
    }
  }

  test("routed box read scans the projection and equals the base filter") {
    val (factPath, projBase) = stores
    val base = spark.read.parquet(factPath)
      .filter(col("x") >= 100L && col("x") <= 150L &&
        col("y") >= 200L && col("y") <= 260L)
      .collect().map(_.toSeq).toSet
    withRule {
      val routed = spark.read.parquet(factPath)
        .filter(col("x") >= 100L && col("x") <= 150L &&
          col("y") >= 200L && col("y") <= 260L)
      val phys = routed.queryExecution.executedPlan.toString()
      assert(phys.contains(projBase) && !phys.contains(factPath),
        s"box filter must route onto the projection:\n${phys.take(1500)}")
      assert(routed.collect().map(_.toSeq).toSet === base)
    }
    // a selective box opens a fraction of the layout's files
    val frac = graft.sinks.ZOrder.filesOpenedFraction(spark, projBase,
      Seq(("x", 100.0, 150.0), ("y", 200.0, 260.0)))
    assert(frac <= 0.35, s"2-D box opened $frac of the files")
  }

  test("declines when no z column is bounded on both sides") {
    val (factPath, projBase) = stores
    withRule {
      // half-open range + non-layout predicate: conservative rule stays
      // on the base table
      val p = spark.read.parquet(factPath)
        .filter(col("x") >= 100L && col("id") < 1000L)
        .queryExecution.executedPlan.toString()
      assert(!p.contains(projBase) && p.contains(factPath),
        s"half-open predicate must not route:\n${p.take(1500)}")
    }
  }

  test("column-swapping Project under the filter stays correct") {
    val (factPath, _) = stores
    // swap x and y UNDER the filter: the filter's `x` is really base
    // `y`. In the standard optimizer position Catalyst's own predicate
    // pushdown remaps the condition's attributes through the rename
    // before this rule runs (so routing, if it happens, prunes the
    // RIGHT base columns); the isFactScan pass-through guard covers the
    // rule being run in any other position. Either way the result must
    // equal the no-rule plan bit-for-bit.
    def q() = spark.read.parquet(factPath)
      .select(col("id"), col("y").as("x"), col("x").as("y"))
      .filter(col("x") >= 100L && col("x") <= 150L &&
        col("y") >= 200L && col("y") <= 260L)
    val expect = q().collect().map(_.toSeq).toSet // rule NOT installed
    withRule {
      assert(q().collect().map(_.toSeq).toSet === expect)
    }
  }

  test("isFactScan declines an Alias-bearing Project (name-collision guard)") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val (factPath, projBase) = stores
    val rule = graft.plans.ProjectionRouting(spark, factPath, projBase,
      zCols = Seq("x", "y"))
    val scan = spark.read.parquet(factPath).queryExecution.analyzed
    val out = scan.output
    assert(rule.isFactScan(scan), "bare fact scan must match")
    assert(rule.isFactScan(Project(Seq(out(1), out(2)), scan)),
      "pure AttributeReference pass-through must match")
    // y renamed to x: routing by name through this node would prune the
    // wrong column — the guard must refuse to traverse it
    val renamed = Project(Seq(out(0),
      Alias(out(2), "x")(), Alias(out(1), "y")()), scan)
    assert(!rule.isFactScan(renamed),
      "Alias-bearing Project must NOT be traversed")
  }

  test("pure pass-through Project still routes") {
    val (factPath, projBase) = stores
    withRule {
      val phys = spark.read.parquet(factPath)
        .select(col("x"), col("y"), col("id"))
        .filter(col("x") >= 100L && col("x") <= 150L &&
          col("y") >= 200L && col("y") <= 260L)
        .queryExecution.executedPlan.toString()
      assert(phys.contains(projBase),
        s"column-reorder Project must still route:\n${phys.take(1500)}")
    }
  }

  test("huge integral literals widen outward, never prune inward") {
    import org.apache.spark.sql.catalyst.expressions.{
      And => CAnd, AttributeReference, GreaterThanOrEqual => CGte,
      LessThanOrEqual => CLte, Literal => CLit}
    import org.apache.spark.sql.types.LongType
    // 2^53 + 1 is not a double; nearest-rounding maps it to 2^53.
    // A lo bound must round DOWN (<= the exact literal), a hi bound UP
    // — an inward-rounded bound can exclude a file whose min/max equals
    // the literal, rows the retained Filter can never recover.
    val big = (1L << 53) + 1
    val x = AttributeReference("x", LongType)()
    val rule = graft.plans.ProjectionRouting(
      spark, "/nonexistent", "/nonexistent", Seq("x"))
    val (lo, hi) = rule.bounds(
      CAnd(CGte(x, CLit(big)), CLte(x, CLit(big))))("x")
    assert(BigDecimal(lo) <= BigDecimal(big), s"lo $lo must be <= $big")
    assert(BigDecimal(hi) >= BigDecimal(big), s"hi $hi must be >= $big")
    assert(lo < hi, "widening must produce a non-degenerate window")
  }

  test("extra non-range conjuncts ride along on the routed scan") {
    val (factPath, projBase) = stores
    def q() = spark.read.parquet(factPath)
      .filter(col("x") >= 100L && col("x") <= 150L &&
        col("y") >= 200L && col("y") <= 260L && pmod(col("id"), lit(2)) === 0)
    val expect = q().collect().map(_.toSeq).toSet // rule NOT installed
    withRule {
      val routed = q()
      val phys = routed.queryExecution.executedPlan.toString()
      assert(phys.contains(projBase), phys.take(1500))
      assert(routed.collect().map(_.toSeq).toSet === expect)
    }
  }
}
