package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product over two equal-length float/double
  * arrays — the custom-Expression tier of the preference order (a
  * Catalyst Expression with doGenCode beats composed HOFs beats UDFs):
  * `zip_with + aggregate` materializes an intermediate product array
  * per row; this expression is a single fused loop.
  *
  * Semantics are BIT-IDENTICAL to
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0d, (acc, x) => acc + x)`:
  * elements widen to double before multiply, accumulation is a
  * sequential left fold, any null element or a length mismatch yields
  * null — so DuckDB oracles built on list_sum keep hash-matching.
  */
case class DoubleDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val at = elemType(left)
    val bt = elemType(right)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = at match {
        case FloatType => a.getFloat(i).toDouble
        case _ => a.getDouble(i)
      }
      val y = bt match {
        case FloatType => b.getFloat(i).toDouble
        case _ => b.getDouble(i)
      }
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String = elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getter(left, a, i)}) * (${getter(right, b, i)});
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "graft_dot"
}

/** Map-only nearest-centroid probe — the r15 optimization that turns
  * [[graft.similarity.KMeans.assign]] from (broadcast-nested-loop join
  * producing |corpus|×k rows → hash aggregate re-shuffling every
  * embedding array) into a single codegen'd PROJECTION: per row, score
  * all k centroids in one fused loop and emit the top-`probes` cent_ids
  * directly. Shuffle removed outright (optimization guide §2.4) and the
  * |corpus|×k intermediate never materializes.
  *
  * Children: (v: array<double>, nrm: double). The centroid matrix
  * (k×dim doubles, the one thing every k-means path already collects)
  * rides a BROADCAST variable, not plan literals: a literal matrix would
  * re-serialize into every stage's task binary (~25 MB per task set at a
  * production 4096×768), while a broadcast ships once per executor and
  * the expression serializes as a small handle. cent_id = position in
  * the matrix (0-based).
  *
  * Semantics are BIT-IDENTICAL to the join+aggregate form it replaces:
  *  - score_c = graft_dot(v, cv_c)/(nrm·cnrm_c) when nrm>0 AND
  *    cnrm_c>0, else the −2.0 NULL sentinel (`coalesce(cent_cos,
  *    −2.0)` in the old aggregate; a null/length-mismatched `v` also
  *    scores −2.0, exactly like graft_dot's null propagated through
  *    the when/coalesce chain);
  *  - dot is the same sequential left fold as [[DoubleDot]];
  *  - selection order is (score desc, cent_id asc) via
  *    java.lang.Double.compare — the `max(struct(c, −cent_id))` /
  *    `bounded_top_k` total order;
  *  - output: the top min(probes, k) cent_ids in that order, never
  *    null (every row has a winner — the old form's coalesce
  *    guaranteed the same).
  */
case class NearestCentroids(vChild: Expression, nrmChild: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Double]], Array[Double])],
    probes: Int)
  extends Expression {

  override def children: Seq[Expression] = Seq(vChild, nrmChild)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    vChild.dataType match {
      case ArrayType(DoubleType, _) if nrmChild.dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cents(v: array<double>, nrm: double, handle: LITERAL bigint, probes: LITERAL int)")
    }
  }

  // resolved from the broadcast once per executor (bc.value is the
  // TorrentBroadcast fetch; subsequent reads are local)
  @transient private lazy val cvs: Array[Array[Double]] = bc.value._1
  @transient private lazy val cnrms: Array[Double] = bc.value._2

  /** Score all centroids, return top-`probes` ids by
    * (score desc, cent_id asc) — [[NearestCentroids.pickTop]]. Public:
    * invoked from generated code. */
  def pick(vRaw: ArrayData, nrm: Double): ArrayData =
    NearestCentroids.pickTop(vRaw, nrm, cvs, cnrms, probes)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vChild.eval(input)
    val nr = nrmChild.eval(input)
    pick(if (v == null) null else v.asInstanceOf[ArrayData],
      if (nr == null) Double.NaN else nr.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("nearestCents", this, classOf[NearestCentroids].getName)
    val vEv = vChild.genCode(ctx)
    val nEv = nrmChild.genCode(ctx)
    val resultCode =
      code"""
        |${vEv.code}
        |${nEv.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $self.pick(${vEv.isNull} ? null : ${vEv.value},
        |    ${nEv.isNull} ? Double.NaN : ${nEv.value});
      """.stripMargin
    ev.copy(code = resultCode,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vChild = newChildren(0), nrmChild = newChildren(1))
  override def prettyName: String = "graft_nearest_cents"
}

object NearestCentroids {
  /** The −2.0 NULL sentinel the join+aggregate form coalesces to —
    * strictly below every cosine (see [[graft.similarity.Ann]]). */
  val NullScore = -2.0

  /** One centroid's score: the [[DoubleDot]] left fold / norms, or the
    * sentinel when either norm is non-positive (NaN compares false,
    * covering a null nrm child) or the dot is null-equivalent (null
    * element / length mismatch / null vector). */
  def score(v: ArrayData, nrm: Double, cv: Array[Double], cnrm: Double): Double = {
    if (v == null || !(nrm > 0) || !(cnrm > 0)) return NullScore
    val n = v.numElements()
    if (n != cv.length) return NullScore
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return NullScore
      sum += v.getDouble(i) * cv(i)
      i += 1
    }
    sum / (nrm * cnrm)
  }

  /** The selection loop: score all centroids, return the top
    * min(probes, k) positions by (score desc, cent_id asc) — strict >
    * in the scan keeps the LOWEST cent_id on ties. */
  def pickTop(vRaw: ArrayData, nrm: Double, cvs: Array[Array[Double]],
      cnrms: Array[Double], probes: Int): ArrayData = {
    val k = cvs.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      scores(c) = score(vRaw, nrm, cvs(c), cnrms(c))
      c += 1
    }
    val n = math.min(probes, k)
    val out = new Array[Any](n)
    val used = new Array[Boolean](k)
    var s = 0
    while (s < n) {
      var best = -1
      var c2 = 0
      while (c2 < k) {
        if (!used(c2) &&
            (best < 0 || java.lang.Double.compare(scores(c2), scores(best)) > 0))
          best = c2
        c2 += 1
      }
      used(best) = true
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Driver-side handle registry: the function-registry builder runs
    * at analysis time on the driver, so a LITERAL handle id in the call
    * resolves to its broadcast here and the built expression carries the
    * broadcast reference itself. Resolving TAKES the handle out, so
    * afterwards only the analyzed plan holds the broadcast and Spark's
    * ContextCleaner reclaims it once the plan is garbage; a second
    * resolution of one handle fails the `require` instead of reading a
    * stale matrix. */
  private val handles = new java.util.concurrent.ConcurrentHashMap[
    Long, org.apache.spark.broadcast.Broadcast[(Array[Array[Double]], Array[Double])]]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def lookup(id: Long) = {
    val bc = handles.remove(id)
    require(bc != null, s"graft_nearest_cents: unknown centroid handle $id")
    bc
  }

  /** Handles broadcast but not yet resolved into a plan. */
  private[graft] def pendingHandles: Int = handles.size

  /** Broadcast one centroid set and build the probe column over it. */
  def columnFor(spark: SparkSession, cvs: Array[Array[Double]],
      cnrms: Array[Double], probes: Int,
      v: org.apache.spark.sql.Column,
      nrm: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bc = spark.sparkContext.broadcast((cvs, cnrms))
    val id = nextId.incrementAndGet()
    handles.put(id, bc)
    graft.GraftExtensions.install(spark)
    org.apache.spark.sql.functions.call_function("graft_nearest_cents",
      v, nrm, org.apache.spark.sql.functions.lit(id),
      org.apache.spark.sql.functions.lit(probes))
  }
}
