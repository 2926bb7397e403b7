package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Materialized-view routing (SURVEY §4 O4): a Catalyst Rule that
  * rewrites rollup-shaped aggregations over the fact table onto the
  * (tiny) precomputed rollup table — the Spark analog of ClickHouse
  * queries hitting engagement_hourly_mv instead of the base MergeTree
  * (/root/reference/sql/clickhouse-init.sql:26–38).
  *
  * Matches:
  *   Aggregate(
  *     grouping ⊆ { date_trunc(g, factTs) for g at or coarser than the
  *                  MV's granularity, dims... },
  *     aggregates ⊆ { count(*), sum(score), avg(score) },
  *     scan of `factPath`)
  * and rewrites to a re-aggregation over `rollupPath`:
  *   - count(*)        → sum(cntCol)
  *   - sum(score)      → sum(sumCol), re-summed through the original
  *                       sum's DECIMAL type when the query used the
  *                       decSum form — the per-part doubles are exact
  *                       2-dp decimals, so the coarser re-aggregation
  *                       stays hash-identical to the base-table answer;
  *   - avg(score)      → sum(sumCol) / sum(cntCol) (the standard
  *                       decomposition; double-typed only)
  *   - date_trunc('day'|'week'|…, factTs) → date_trunc(same, mvTsCol):
  *     calendar truncations COMPOSE (day∘hour = day), so every
  *     granularity at or above the MV's routes — daily/weekly/monthly
  *     dashboard shapes never scan the base table, which is exactly why
  *     the reference's MV layer exists.
  * Re-aggregating rather than projecting keeps the rewrite correct even
  * when the MV holds partial rows per group (SummingMergeTree-style),
  * and coarser groupings (e.g. by a dim only) still route.
  *
  * Output attribute ids are preserved so parent operators re-resolve
  * against the rewritten subtree untouched.
  *
  * The default parameters bind the reference's hourly engagement MV; a
  * second instance with mvGranularity = "minute" routes minute-topk /
  * moving-agg base shapes onto a minute-level SummingStore-maintained
  * part table.
  *
  * Install per session:
  *   spark.experimental.extraOptimizations ++= Seq(MvRouting(spark, fact, mv))
  * or for a cluster, inject through SparkSessionExtensions.
  */
case class MvRouting(spark: SparkSession, factPath: String, rollupPath: String,
    factTsCol: String = "event_ts", mvTsCol: String = "hour_ts",
    mvGranularity: String = "hour",
    cntCol: String = "cnt", sumCol: String = "score_sum",
    scoreCntCol: String = "score_cnt",
    scoreCol: String = "engagement_score",
    dims: Seq[String] = Seq("content_type", "event_type"))
    extends Rule[LogicalPlan] {

  /** Calendar-unit coarseness ladder: date_trunc(g₂, date_trunc(g₁, t))
    * = date_trunc(g₂, t) whenever g₂'s boundaries lie on g₁'s grid.
    * Rank alone is NOT sufficient: a week boundary is a day boundary
    * (so week composes over minute/hour/day), but month/quarter/year
    * boundaries are NOT week boundaries — a week spans month ends, so
    * date_trunc('month', date_trunc('week', t)) ≠ date_trunc('month', t).
    * [[composesOver]] encodes both the rank order and the week cut. */
  private val granRank = Map("minute" -> 0, "hour" -> 1, "day" -> 2,
    "week" -> 3, "month" -> 4, "quarter" -> 5, "year" -> 6)

  /** True iff a query grouped at `queryG` can be answered by re-truncating
    * an MV stored at `mvG`: queryG strictly coarser, and never across the
    * week cut — nothing coarser than a week-grained MV composes over it
    * (month/quarter/year do not align to week starts), and 'week' itself
    * only re-truncates cleanly from day-or-finer grains. */
  private def composesOver(queryG: String, mvG: String): Boolean =
    granRank(queryG) > granRank(mvG) && mvG != "week"

  /** WHITELIST match: the aggregate's child must be the fact relation
    * reachable through ONLY Project/SubqueryAlias nodes. Anything else
    * between the Aggregate and the scan — Filter, Limit, Sample,
    * Generate/explode, Window, a join (even fact-to-fact) — changes the
    * row multiset the aggregate sees, which the collapsed MV cannot
    * answer; a blacklist of known-bad nodes would silently mis-route
    * every node type it forgot. */
  @scala.annotation.tailrec
  private def isFactScan(plan: LogicalPlan): Boolean = plan match {
    case p: org.apache.spark.sql.catalyst.plans.logical.Project => isFactScan(p.child)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => isFactScan(s.child)
    case LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _) =>
      MvRouting.pathMatches(spark, factPath, fsRel)
    case _ => false
  }

  private def rollupPlan(): LogicalPlan =
    spark.read.parquet(rollupPath).queryExecution.analyzed

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).get

  /** Aliased expressions defined by child Projects (the optimizer pulls
    * grouping expressions like date_trunc into a Project below the
    * Aggregate as `_groupingexpression#N`) — resolve through them. */
  private def aliasMap(plan: LogicalPlan): Map[ExprId, Expression] = plan match {
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      p.projectList.collect { case a @ Alias(c, _) => a.exprId -> c }.toMap ++
        aliasMap(p.child)
    case _ if plan.children.length == 1 => aliasMap(plan.children.head)
    case _ => Map.empty
  }

  private def resolveThrough(e: Expression, m: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case a: AttributeReference if m.contains(a.exprId) => resolveThrough(m(a.exprId), m)
    }

  /** Map a fact-side grouping expression to the rollup column. */
  private def mapGrouping(e: Expression, mv: LogicalPlan): Option[Expression] = e match {
    case t @ TruncTimestamp(StringLiteral(g), ts: AttributeReference, _)
        if ts.name == factTsCol && granRank.contains(g.toLowerCase) =>
      val gl = g.toLowerCase
      if (gl == mvGranularity) Some(attr(mv, mvTsCol))
      else if (composesOver(gl, mvGranularity))
        // coarser trunc composes over the MV's trunc: re-truncate the
        // MV's time column (keeps the original node's timezone)
        Some(t.withNewChildren(Seq(t.format, attr(mv, mvTsCol))))
      else None // finer than the MV's grain — it cannot answer
    case a: AttributeReference if dims.contains(a.name) => Some(attr(mv, a.name))
    case _ => None
  }

  /** Map a fact-side aggregate call to its rollup re-aggregation. */
  private def mapAggCall(ae: AggregateExpression, mv: LogicalPlan): Option[Expression] =
    ae.aggregateFunction match {
      case Count(Seq(Literal(1, IntegerType))) if !ae.isDistinct =>
        Some(ae.copy(aggregateFunction = Sum(attr(mv, cntCol))))
      case s @ Sum(e, _) if !ae.isDistinct && refersToScore(e) =>
        // preserve the original sum's input type: the decSum form
        // (sum over DECIMAL) re-sums the MV's per-part values through
        // the same decimal — the parts are exact 2-dp decimals stored
        // as doubles, so the coarser re-aggregation is exact and the
        // output type (hence every parent's resolution) is unchanged.
        // A raw double sum re-sums the double parts directly.
        val inner: Expression = s.child.dataType match {
          case d: DecimalType => Cast(attr(mv, sumCol), d)
          case _ => attr(mv, sumCol)
        }
        Some(ae.copy(aggregateFunction = Sum(inner)))
      case av @ Average(e, _) if !ae.isDistinct && refersToScore(e) &&
          av.dataType == DoubleType =>
        // avg decomposes over partial groups as Σ score_sum / Σ denom,
        // where denom must be the NON-NULL score count (avg ignores
        // nulls). Prefer the MV's score_cnt column (count(score),
        // written by Rollups.hourlyRollupMv); an MV lacking it can only
        // route avg when the score attribute is non-nullable, in which
        // case count(*) == count(score) and cnt serves. Nullable score
        // + no score_cnt → None: base table answers rather than
        // silently diverging.
        val denom: Option[Attribute] =
          mv.output.find(_.name == scoreCntCol)
            .orElse(if (!scoreNullable(e)) mv.output.find(_.name == cntCol)
                    else None)
        denom.map { d =>
          // Each arm is its own AggregateExpression with a FRESH
          // resultId (two aggregates sharing one id would collide in
          // the agg map)
          val sumAgg = ae.copy(aggregateFunction = Sum(attr(mv, sumCol)),
            resultId = NamedExpression.newExprId)
          val cntAgg = ae.copy(aggregateFunction = Sum(d),
            resultId = NamedExpression.newExprId)
          Divide(sumAgg, Cast(cntAgg, DoubleType))
        }
      case _ => None
    }

  private def refersToScore(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == scoreCol
    case Cast(c, _, _, _) => refersToScore(c)
    case _ => false
  }

  /** Nullability of the score attribute under casts (casts to a wider
    * numeric type preserve nullability, so the leaf attribute decides). */
  private def scoreNullable(e: Expression): Boolean = e match {
    case a: AttributeReference => a.nullable
    case Cast(c, _, _, _) => scoreNullable(c)
    case _ => true // unknown shape — assume nullable, refuse the rewrite
  }

  /** Rewrite one named output expression, keeping name + exprId. */
  private def mapNamed(ne: NamedExpression, defs: Map[ExprId, Expression],
      mv: LogicalPlan): Option[NamedExpression] =
    ne match {
      case al @ Alias(child, name) =>
        mapScalar(child, defs, mv).map(m => Alias(m, name)(exprId = al.exprId))
      case a: AttributeReference =>
        mapGrouping(resolveThrough(a, defs), mv)
          .map(m => Alias(m, a.name)(exprId = a.exprId))
      case _ => None
    }

  /** Scalar mapping: grouping refs, aggregate calls, casts above them. */
  private def mapScalar(e: Expression, defs: Map[ExprId, Expression],
      mv: LogicalPlan): Option[Expression] = e match {
    case ae: AggregateExpression => mapAggCall(ae, mv)
    case c @ Cast(child, _, _, _) =>
      mapScalar(child, defs, mv).map(m => c.withNewChildren(Seq(m)))
    case other => mapGrouping(resolveThrough(other, defs), mv)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, child, hint)
        if isFactScan(child) && groupings.nonEmpty =>
      val mv = rollupPlan()
      val defs = aliasMap(child)
      val mappedG = groupings.map(g => mapGrouping(resolveThrough(g, defs), mv))
      val mappedA = aggExprs.map(a => mapNamed(a, defs, mv))
      if (mappedG.forall(_.isDefined) && mappedA.forall(_.isDefined)) {
        logInfo(s"MvRouting: rewriting $mvGranularity-grained aggregate onto $rollupPath")
        Aggregate(mappedG.map(_.get), mappedA.map(_.get), mv, hint)
      } else agg
  }
}

object MvRouting {

  /** Exact/child path equality against factPath (String.contains would
    * also match /data/fact_archive or /data/fact-copy). factPath is
    * qualified against its filesystem first, so a RELATIVE factPath
    * still matches the relation's absolute root paths instead of
    * silently never routing. [[ProjectionRouting]] uses it too. */
  private[plans] def pathMatches(spark: SparkSession, factPath: String,
      fsRel: HadoopFsRelation): Boolean = {
    val raw = new org.apache.hadoop.fs.Path(factPath)
    val target = raw
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(raw).toUri.getPath
    fsRel.location.rootPaths.exists { p =>
      val rp = p.toUri.getPath
      rp == target || rp.startsWith(target + "/")
    }
  }
}

/** Extractor for string literals (UTF8String-backed). */
private object StringLiteral {
  def unapply(e: Expression): Option[String] = e match {
    case Literal(s, StringType) if s != null => Some(s.toString)
    case _ => None
  }
}
