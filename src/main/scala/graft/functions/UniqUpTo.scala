package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.LongType

/** ClickHouse `uniqUpTo(N)` as a real bounded-state aggregate: the
  * exact distinct count while it is ≤ N, and the saturation value N+1
  * as soon as it exceeds N — with state that NEVER grows past N+1
  * elements, which is the whole point. `least(count_distinct(x), N+1)`
  * gives the same answer but shuffles every distinct value per group;
  * this aggregate's partial state (and therefore its map-side shuffle
  * contribution per group) is capped at N+1 longs regardless of the
  * true cardinality — the bounded-memory contract a dashboard query
  * wants for "distinct users, but I stop caring past 100".
  *
  * Saturation is monotone and merge-order independent: once a buffer
  * holds N+1 distinct elements, every merge result also holds ≥ N+1
  * (capped), and the eval is min(size, N+1) — so any merge order yields
  * the identical saturated answer. Input is the 64-bit column value
  * itself (hash non-long inputs first — exactness is over the hashed
  * domain then, like ClickHouse's uniqUpTo over hashed strings).
  *
  * Output: BIGINT in [0, N+1].
  */
case class UniqUpTo(
    child: Expression,
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[Unit]] {

  require(n > 0, "n must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"uniq_up_to(value: bigint, n: int) — got ${child.dataType.simpleString}; " +
        "cast or hash (xxhash64) explicitly")
  }

  override def createAggregationBuffer(): mutable.LongMap[Unit] =
    mutable.LongMap.empty[Unit]

  override def update(buf: mutable.LongMap[Unit], input: InternalRow): mutable.LongMap[Unit] = {
    val v = child.eval(input)
    if (v != null && buf.size <= n) buf.update(v.asInstanceOf[Long], ())
    buf
  }

  override def merge(buf: mutable.LongMap[Unit], other: mutable.LongMap[Unit]): mutable.LongMap[Unit] = {
    val it = other.iterator
    while (it.hasNext && buf.size <= n) buf.update(it.next()._1, ())
    buf
  }

  override def eval(buf: mutable.LongMap[Unit]): Any =
    math.min(buf.size.toLong, n.toLong + 1L)

  override def serialize(buf: mutable.LongMap[Unit]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.foreachKey(bb.putLong)
    bb.array()
  }

  override def deserialize(b: Array[Byte]): mutable.LongMap[Unit] = {
    val bb = ByteBuffer.wrap(b)
    val sz = bb.getInt
    val buf = mutable.LongMap.empty[Unit]
    var i = 0
    while (i < sz) { buf.update(bb.getLong, ()); i += 1 }
    buf
  }

  override def dataType: org.apache.spark.sql.types.DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): UniqUpTo =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): UniqUpTo =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "uniq_up_to"
}
