package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values / bottom-k, the classic theta-sketch
  * construction) as a bounded-state aggregate: keep the k SMALLEST
  * DISTINCT hash values seen, emit them as an ascending array.
  *
  * The distinct-count estimate derives downstream from the k-th
  * minimum (h_k over a 2^60 hash domain → n̂ = (k−1)·2^60 / h_k when
  * the sketch is full; the exact kept-count when it never filled) —
  * kept OUT of the aggregate so the raw sketch stays composable and
  * the oracle can replay the entire k-set bit-for-bit, estimate
  * included (the same stronger-than-boolean gate the CMS/HLL queries
  * use).
  *
  * Why another sketch next to HLL/uniqUpTo: KMV is the one whose
  * state supports set OPERATIONS at serve time (theta sketches:
  * intersect/union/difference estimates from merged k-sets), and its
  * merge is exact-by-construction: the k smallest of a union is a
  * function of the two k-sets alone — merge order can never change
  * the result (asserted as a law in SketchGraphOpsSpec).
  *
  * State: ≤ k longs (a sorted set), map-side combinable — per-group
  * shuffle contribution is capped at k·8 bytes regardless of true
  * cardinality, the same bounded-memory contract as uniqUpTo but with
  * an unbiased estimator above the cap instead of saturation.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  require(k > 1, "k must be > 1 (the estimator divides by k-1)")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch(hash: bigint, k: int) — got ${child.dataType.simpleString}; " +
        "hash the id first (md5Long / xxhash64)")
  }

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  private def add(buf: mutable.TreeSet[Long], v: Long): Unit =
    if (buf.size < k) buf.add(v)
    else if (v < buf.last && !buf.contains(v)) { buf.remove(buf.last); buf.add(v) }

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.TreeSet[Long], other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(add(buf, _))
    buf
  }

  /** Ascending array of the ≤ k minima. */
  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(b: Array[Byte]): mutable.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(b)
    val sz = bb.getInt
    val buf = mutable.TreeSet.empty[Long]
    var i = 0
    while (i < sz) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "kmv_sketch"
}
