package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate (SURVEY.md A5 "advanced option" / §2.10): for
  * each group, keep the k highest-scoring (score, key) pairs in a
  * bounded buffer instead of sorting the whole group.
  *
  * Why custom: the built-in formulation — `row_number() OVER (ORDER BY
  * score DESC) <= k` — shuffles and SORTS every row of every group. This
  * aggregate is a TypedImperativeAggregate, so Spark runs it as a
  * partial+final hash aggregation: each map task reduces its slice to at
  * most 2k pairs before the shuffle, and no sort ever sees more than 2k
  * elements. At 100 TB that's the difference between shuffling the fact
  * table and shuffling k rows per group.
  *
  * Output: array<struct<key:bigint, score:double>> ordered by
  * (score desc, key asc) — a total order when keys are unique, which
  * keeps results oracle-comparable.
  */
case class BoundedTopK(
    scoreChild: Expression,
    keyChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  require(k > 0, "k must be positive")

  /** Input-type contract: (score: double, key: bigint). Checked at
    * ANALYSIS time with the signature in the message — without this, a
    * SQL call like bounded_top_k(an_int_col, …) only failed at
    * execution with a bare ClassCastException. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (scoreChild.dataType == DoubleType && keyChild.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bounded_top_k(score: double, key: bigint, k: int) — got " +
        s"(${scoreChild.dataType.simpleString}, ${keyChild.dataType.simpleString}); " +
        "cast narrower numerics explicitly")
  }

  private val ord: Ordering[(Double, Long)] = Ordering.by(p => (-p._1, p._2))

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] = ArrayBuffer.empty

  private def trim(buf: ArrayBuffer[(Double, Long)], force: Boolean = false): Unit =
    if (buf.length > (if (force) k else 2 * k)) {
      val kept = buf.sorted(ord).take(k)
      buf.clear()
      buf ++= kept
    }

  override def update(buf: ArrayBuffer[(Double, Long)], input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val s = scoreChild.eval(input)
    val key = keyChild.eval(input)
    if (s != null && key != null) {
      buf += ((s.asInstanceOf[Double], key.asInstanceOf[Long]))
      trim(buf)
    }
    buf
  }

  override def merge(buf: ArrayBuffer[(Double, Long)], other: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    buf ++= other
    trim(buf)
    buf
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(buf.sorted(ord).take(k)
      .map(p => InternalRow(p._2, p._1)).toArray[Any])

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    trim(buf, force = true)
    val bb = ByteBuffer.allocate(4 + buf.length * 16)
    bb.putInt(buf.length)
    buf.foreach { case (s, key) => bb.putDouble(s); bb.putLong(key) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = ArrayBuffer.empty[(Double, Long)]
    var i = 0
    while (i < n) { val s = bb.getDouble; val key = bb.getLong; buf += ((s, key)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreChild, keyChild)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreChild = newChildren(0), keyChild = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "bounded_top_k"
}
