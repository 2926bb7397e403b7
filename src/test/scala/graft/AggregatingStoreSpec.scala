package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{AggregatingStore => A, SnapshotStore}

/** AggregatingMergeTree analog: mergeable partial states (count /
  * decimal sum / min / max / HLL registers) must be invariant to part
  * batching, part order, and compaction — incremental == from-scratch,
  * bit for bit. */
class AggregatingStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = tmpDir(p)

  // 3 groups with ~200/400/600 distinct members (well inside the raw-HLL
  // estimator's valid range n ≳ 2.5·m at m=64 — the store deliberately
  // omits the small-range correction), members duplicated, values ±id
  private lazy val raw: DataFrame = spark.range(3000).select(
    col("id"),
    (col("id") % 3).as("g"),
    pmod(floor(col("id") / 3).cast("long"), lit(200L) * (col("id") % 3 + 1))
      .as("member"),
    (col("id").cast("double") * when(col("id") % 2 === 0, 1.0).otherwise(-1.0))
      .as("v"))

  private def finalized(path: String): Array[(Long, Long, Double, Double, Double, Long)] =
    A.finalizeView(A.readStates(spark, path, Seq("g")).get, Seq("g"))
      .select("g", "cnt", "sum_value", "min_value", "max_value", "est_distinct")
      .as[(Long, Long, Double, Double, Double, Long)].collect().sortBy(_._1)

  test("incremental parts == one-shot batch, including the HLL estimate") {
    val inc = tmp("aggmv_inc") + "/mv"
    val oneShot = tmp("aggmv_one") + "/mv"
    // 4 deltas split by id ranges (uneven on purpose)
    Seq(col("id") < 17, col("id") >= 17 && col("id") < 40,
      col("id") >= 40 && col("id") < 41, col("id") >= 41)
      .foreach { pred =>
        A.appendDelta(A.partialState(raw.where(pred).drop("id"),
          Seq(col("g")), col("v"), col("member")), inc)
      }
    A.appendDelta(A.partialState(raw, Seq(col("g")), col("v"), col("member")), oneShot)
    assert(finalized(inc).toSeq === finalized(oneShot).toSeq)
  }

  test("finished values match a direct aggregate; estimate within raw-HLL error") {
    val path = tmp("aggmv_direct") + "/mv"
    A.appendDelta(A.partialState(raw, Seq(col("g")), col("v"), col("member")), path)
    val got = finalized(path)
    val want = raw.groupBy("g").agg(
        count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(28,4)")).cast("double").as("s"),
        min("v"), max("v"), countDistinct("member").as("d"))
      .as[(Long, Long, Double, Double, Double, Long)].collect().sortBy(_._1)
    got.zip(want).foreach { case ((g1, c1, s1, mn1, mx1, est), (g2, c2, s2, mn2, mx2, exact)) =>
      assert((g1, c1, s1, mn1, mx1) === ((g2, c2, s2, mn2, mx2)))
      // raw-HLL at m=64 (σ ≈ 13%): within ~2.7σ
      assert(math.abs(est - exact).toDouble / exact <= 0.35,
        s"g=$g1 est=$est exact=$exact")
    }
  }

  test("compaction collapses parts without changing one bit of the view") {
    val path = tmp("aggmv_compact") + "/mv"
    (0 until 5).foreach { i =>
      A.appendDelta(A.partialState(raw.where(col("id") % 5 === i),
        Seq(col("g")), col("v"), col("member")), path)
    }
    val before = finalized(path)
    val filesBefore = SnapshotStore.listFiles(spark, path).size
    A.compact(spark, path, Seq("g"))
    assert(finalized(path).toSeq === before.toSeq)
    assert(SnapshotStore.listFiles(spark, path).size < filesBefore)
    // and compaction composes: a further delta + second compaction
    A.appendDelta(A.partialState(raw.limit(0), Seq(col("g")), col("v"), col("member")), path)
    A.compact(spark, path, Seq("g"))
    assert(finalized(path).toSeq === before.toSeq)
  }

  test("maintain drains only new source commits and is replay-safe") {
    val base = tmp("aggmv_maint")
    val src = s"$base/src"; val mv = s"$base/mv"; val ck = s"$base/ck"
    SnapshotStore.commitAppend(spark, src, raw.where(col("id") < 60))
    A.maintain(spark, src, ck, mv, Seq("g"), col("v"), col("member"))
    SnapshotStore.commitAppend(spark, src, raw.where(col("id") >= 60))
    A.maintain(spark, src, ck, mv, Seq("g"), col("v"), col("member"))
    // nothing new: a third run must be a no-op
    assert(A.maintain(spark, src, ck, mv, Seq("g"), col("v"), col("member")).isEmpty)
    val oneShot = tmp("aggmv_maint_one") + "/mv"
    A.appendDelta(A.partialState(raw, Seq(col("g")), col("v"), col("member")), oneShot)
    assert(finalized(mv).toSeq === finalized(oneShot).toSeq)
  }
}
