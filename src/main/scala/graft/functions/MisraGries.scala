package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The buffer code the Misra–Gries aggregates share: a map of at most
  * k (item → count) counters, the mergeable-summaries merge (sum
  * counterparts, then subtract the (k+1)-th largest count and drop
  * non-positives), the (est desc, item asc) output and the byte
  * encoding of a partial. Each aggregate adds only its input type
  * check and `update`. */
sealed trait MisraGriesBuffer
    extends TypedImperativeAggregate[mutable.LinkedHashMap[String, Long]] {

  def k: Int
  // case-class parameters are set before trait bodies run
  require(k > 0, "k must be positive")

  override def createAggregationBuffer(): mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap.empty

  /** Decrement-all step: subtract `by` from every counter, drop <= 0. */
  protected def decrement(buf: mutable.LinkedHashMap[String, Long], by: Long): Unit = {
    val dead = mutable.ArrayBuffer.empty[String]
    buf.mapValuesInPlace((_, c) => c - by)
    buf.foreach { case (i, c) => if (c <= 0) dead += i }
    dead.foreach(buf.remove)
  }

  /** Restore the ≤ k-counter bound: subtract the (k+1)-th largest
    * count, drop non-positives. */
  protected def reduceToK(buf: mutable.LinkedHashMap[String, Long]): Unit =
    if (buf.size > k)
      decrement(buf, buf.values.toArray.sorted(Ordering[Long].reverse).apply(k))

  override def merge(buf: mutable.LinkedHashMap[String, Long], other: mutable.LinkedHashMap[String, Long]): mutable.LinkedHashMap[String, Long] = {
    other.foreach { case (i, c) => buf.update(i, buf.getOrElse(i, 0L) + c) }
    reduceToK(buf)
    buf
  }

  override def eval(buf: mutable.LinkedHashMap[String, Long]): Any =
    new GenericArrayData(buf.toArray.sortBy { case (i, c) => (-c, i) }
      .map { case (i, c) => InternalRow(UTF8String.fromString(i), c) }.toArray[Any])

  override def serialize(buf: mutable.LinkedHashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val bytes = entries.map { case (i, _) => i.getBytes(StandardCharsets.UTF_8) }
    val size = 4 + entries.indices.map(j => 4 + bytes(j).length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.indices.foreach { j =>
      bb.putInt(bytes(j).length); bb.put(bytes(j)); bb.putLong(entries(j)._2)
    }
    bb.array()
  }

  override def deserialize(b: Array[Byte]): mutable.LinkedHashMap[String, Long] = {
    val bb = ByteBuffer.wrap(b)
    val n = bb.getInt
    val buf = mutable.LinkedHashMap.empty[String, Long]
    var j = 0
    while (j < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.update(new String(arr, StandardCharsets.UTF_8), bb.getLong)
      j += 1
    }
    buf
  }

  override def dataType: DataType =
    ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
}

/** Misra–Gries frequent-items ("heavy hitters") sketch as a
  * partial+final TypedImperativeAggregate — the mergeable-summaries
  * form (Agarwal et al., PODS'12): each map task keeps at most k
  * counters; merge sums counterparts then subtracts the (k+1)-largest
  * count and drops non-positive counters.
  *
  * Why custom: exact heavy hitters need a full groupBy(item) — a
  * shuffle of every distinct item. This sketch shuffles k counters per
  * partition regardless of item cardinality, with the classic
  * guarantee: any item whose true frequency exceeds N/(k+1) SURVIVES,
  * and every reported estimate is an undercount by at most N/(k+1).
  * That guarantee holds under ANY merge order, which is what makes the
  * output assertable (and oracle-checkable as booleans) even though
  * the raw counter values depend on Spark's nondeterministic partial
  * aggregation order.
  *
  * Output: array<struct<item:string, est:bigint>> ordered by
  * (est desc, item asc).
  */
case class MisraGries(
    itemChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MisraGriesBuffer {

  override def checkInputDataTypes(): TypeCheckResult =
    if (itemChild.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries(item: string, k: int) — got ${itemChild.dataType.simpleString}; cast explicitly")

  /** O(k) per row: a new item with all k counters taken decrements
    * every counter by one. */
  override def update(buf: mutable.LinkedHashMap[String, Long], input: InternalRow): mutable.LinkedHashMap[String, Long] = {
    val v = itemChild.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k => buf.update(item, 1L)
        case None => decrement(buf, 1L)
      }
    }
    buf
  }

  override def children: Seq[Expression] = Seq(itemChild)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(itemChild = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "misra_gries"
}

/** WEIGHTED Misra–Gries (ClickHouse `topKWeighted` analog): each input
  * contributes its BIGINT weight instead of 1. Every step — update and
  * merge alike — is the mergeable-summaries reduction: add the entry,
  * then if more than k counters survive subtract the (k+1)-th largest
  * and drop non-positives. The weighted guarantee is the same as the
  * unweighted one with N replaced by W = Σ weights: any item whose
  * total weight exceeds W/(k+1) survives, and estimates undercount by
  * at most W/(k+1), under any merge order. Null or non-positive
  * weights are skipped (they carry no mass).
  *
  * Output: array<struct<item:string, est:bigint>> ordered by
  * (est desc, item asc). */
case class MisraGriesWeighted(
    itemChild: Expression,
    weightChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MisraGriesBuffer {

  override def checkInputDataTypes(): TypeCheckResult =
    if (itemChild.dataType == StringType && weightChild.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries_w(item: string, weight: bigint, k: int) — got " +
        s"(${itemChild.dataType.simpleString}, ${weightChild.dataType.simpleString}); cast explicitly")

  override def update(buf: mutable.LinkedHashMap[String, Long], input: InternalRow): mutable.LinkedHashMap[String, Long] = {
    val v = itemChild.eval(input)
    val wv = weightChild.eval(input)
    if (v != null && wv != null) {
      val w = wv.asInstanceOf[Long]
      if (w > 0) {
        val item = v.asInstanceOf[UTF8String].toString
        buf.update(item, buf.getOrElse(item, 0L) + w)
        reduceToK(buf)
      }
    }
    buf
  }

  override def children: Seq[Expression] = Seq(itemChild, weightChild)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(itemChild = newChildren(0), weightChild = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesWeighted =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesWeighted =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "misra_gries_w"
}
