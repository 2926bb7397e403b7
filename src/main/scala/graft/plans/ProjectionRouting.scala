package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sinks.SnapshotStore

/** PROJECTION routing — the layout sibling of [[MvRouting]]: ClickHouse
  * `PROJECTION`s store a re-sorted copy of each part and the optimizer
  * reads whichever copy serves the query's predicate with the least IO.
  * Here the projection is a z-ordered [[graft.sinks.ZOrder]] copy of
  * the fact table with per-file min/max stats, and this Rule rewrites a
  * selective multi-column range Filter over the BASE path into a scan
  * of only the projection files whose stats intersect the box —
  * [[SnapshotStore.pruneFiles]] on every bounded z column, metadata
  * only, no data IO spent deciding.
  *
  * Matches `Filter(cond, scan(factPath))` (through SubqueryAlias/
  * Project) where `cond`'s top-level conjunction bounds at least one of
  * `zCols` on BOTH sides with numeric literals. The rewrite keeps the
  * ORIGINAL filter on top of the routed scan (extra conjuncts on
  * non-layout columns ride along unchanged), so it is correct for any
  * projection holding the same rows as the base — exactly the
  * PROJECTION contract. Output attribute ids are preserved by aliasing
  * the projection's columns to the base scan's exprIds, so parents
  * re-resolve untouched. Routing declines (returns the original plan)
  * when: no z column is fully bounded, the pruned list is empty (the
  * base plan is already-correct and the win is moot), pruning removes
  * nothing, or the projection's schema is missing a base column.
  *
  * Scale: the decision reads only the projection's manifest (file
  * count lines, not data); the win is the zorder_box rung's measured
  * ≤ 35% opened-files bound on a selective 2-D box — at 100 TB that is
  * the difference between scanning the table and scanning the tiles
  * the box touches.
  */
case class ProjectionRouting(spark: SparkSession, factPath: String,
    projectionBase: String, zCols: Seq[String])
    extends Rule[LogicalPlan] {

  /** Project nodes are traversed ONLY when they are pure
    * AttributeReference pass-through: an Alias in the projectList can
    * rename or compute a column whose name collides with a base column
    * (swap x/y, `(x%10).as("x")`), and the rewrite below maps columns
    * by NAME onto the projection scan — routing through such a Project
    * would prune on the wrong column. Declining is always sound (the
    * original plan stands). */
  @scala.annotation.tailrec
  private[graft] final def isFactScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      isFactScan(p.child)
    case s: SubqueryAlias => isFactScan(s.child)
    case LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _) =>
      MvRouting.pathMatches(spark, factPath, fsRel)
    case _ => false
  }

  /** Literal → Double bound, rounded OUTWARD in the caller's direction
    * (`widenDown = true` for lo bounds, false for hi). Integral and
    * decimal literals above 2^53 are not exactly representable as
    * doubles; nearest-rounding could move a bound INWARD and exclude a
    * file whose min/max equals the literal — rows the retained Filter
    * can never recover because the file was never scanned. Widening by
    * one ulp when the conversion was inexact keeps pruning strictly
    * conservative (at worst one extra file scanned). */
  private def numLit(e: Expression, widenDown: Boolean): Option[Double] = e match {
    case Literal(v, _) if v != null => e.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.DecimalType =>
        val exact = BigDecimal(v.toString)
        val d = v.toString.toDouble
        if (widenDown && BigDecimal(d) > exact) Some(Math.nextDown(d))
        else if (!widenDown && BigDecimal(d) < exact) Some(Math.nextUp(d))
        else Some(d)
      // Float→double widening is exact (every float IS a double), so no
      // ulp nudge is needed — but the toString round-trip below is NOT:
      // Float.toString prints the shortest decimal that round-trips to
      // FLOAT, and parsing that decimal as a DOUBLE can land on either
      // side of the float's exact value, moving a bound inward.
      case org.apache.spark.sql.types.FloatType =>
        Some(v.asInstanceOf[Float].toDouble)
      case _: org.apache.spark.sql.types.NumericType =>
        Some(v.toString.toDouble)
      case _ => None
    }
    case _ => None
  }

  /** Per-z-column [lo, hi] bounds read off the top-level conjunction
    * (both comparison orientations; EqualTo bounds both sides). Only
    * columns bounded on BOTH sides count — a half-open range can still
    * prune, but the conservative rule keeps the decision obviously
    * sound. */
  private[graft] def bounds(cond: Expression): Map[String, (Double, Double)] = {
    val los = scala.collection.mutable.Map.empty[String, Double]
    val his = scala.collection.mutable.Map.empty[String, Double]
    def visit(e: Expression): Unit = e match {
      case And(l, r) => visit(l); visit(r)
      case GreaterThanOrEqual(a: AttributeReference, l) if zCols.contains(a.name) =>
        numLit(l, widenDown = true).foreach(v => los(a.name) = math.max(v, los.getOrElse(a.name, v)))
      case GreaterThan(a: AttributeReference, l) if zCols.contains(a.name) =>
        numLit(l, widenDown = true).foreach(v => los(a.name) = math.max(v, los.getOrElse(a.name, v)))
      case LessThanOrEqual(a: AttributeReference, l) if zCols.contains(a.name) =>
        numLit(l, widenDown = false).foreach(v => his(a.name) = math.min(v, his.getOrElse(a.name, v)))
      case LessThan(a: AttributeReference, l) if zCols.contains(a.name) =>
        numLit(l, widenDown = false).foreach(v => his(a.name) = math.min(v, his.getOrElse(a.name, v)))
      case GreaterThanOrEqual(l, a: AttributeReference) if zCols.contains(a.name) =>
        numLit(l, widenDown = false).foreach(v => his(a.name) = math.min(v, his.getOrElse(a.name, v)))
      case LessThanOrEqual(l, a: AttributeReference) if zCols.contains(a.name) =>
        numLit(l, widenDown = true).foreach(v => los(a.name) = math.max(v, los.getOrElse(a.name, v)))
      case EqualTo(a: AttributeReference, l) if zCols.contains(a.name) =>
        numLit(l, widenDown = true).foreach(v => los(a.name) = math.max(v, los.getOrElse(a.name, v)))
        numLit(l, widenDown = false).foreach(v => his(a.name) = math.min(v, his.getOrElse(a.name, v)))
      case _ => // non-range conjunct: rides along on top of the routed scan
    }
    visit(cond)
    (los.keySet intersect his.keySet)
      .map(c => c -> (los(c), his(c))).toMap
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if isFactScan(child) =>
      val bs = bounds(cond)
      if (bs.isEmpty) f
      else {
        val pruned = bs.map { case (c, (lo, hi)) =>
          SnapshotStore.pruneFiles(spark, projectionBase, c, lo, hi).toSet
        }.reduce(_ intersect _)
        val total = SnapshotStore.listFiles(spark, projectionBase).size
        if (pruned.isEmpty || pruned.size >= total) f
        else {
          val dd = s"$projectionBase/data"
          val scan = spark.read.option("basePath", dd)
            .parquet(pruned.toSeq.sorted.map(p => s"$dd/$p"): _*)
            .queryExecution.analyzed
          val byName = scan.output.map(a => a.name -> a).toMap
          if (!child.output.forall(o => byName.contains(o.name))) f
          else {
            logInfo(s"ProjectionRouting: ${pruned.size}/$total projection " +
              s"files serve the box ${bs.keys.mkString(",")}")
            val aliases = child.output.map(o =>
              Alias(byName(o.name), o.name)(exprId = o.exprId))
            Filter(cond, Project(aliases, scan))
          }
        }
      }
  }
}
