package graft

import org.apache.spark.sql.functions._

/** Misra–Gries heavy-hitters guarantee under adversarial cardinality
  * and arbitrary partitioning. */
class MisraGriesSpec extends SparkSpec {

  import spark.implicits._

  // 5000 noise items (one occurrence each) + two planted heavy items:
  // "hot" at ~30%, "warm" at ~15% of N.
  private def fixture(parts: Int) = {
    val noise = (0 until 5000).map(i => s"item_$i")
    val hot = Seq.fill(3000)("hot")
    val warm = Seq.fill(1500)("warm")
    // interleave deterministically so partitions see mixed traffic
    val all = (noise ++ hot ++ warm).zipWithIndex
      .sortBy { case (s, i) => (i * 2654435761L) % 9500 }
      .map(_._1)
    all.toDF("item").repartition(parts)
  }

  private def sketch(parts: Int, k: Int): Map[String, Long] = {
    fixture(parts).agg(expr(s"misra_gries(item, $k)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("heavy items survive any partitioning; estimates undercount within N/(k+1)") {
    val n = 9500.0
    val k = 16
    for (parts <- Seq(1, 7, 32)) {
      val hh = sketch(parts, k)
      assert(hh.size <= k, s"sketch overflow: ${hh.size}")
      assert(hh.contains("hot") && hh.contains("warm"), s"lost a heavy item at parts=$parts: ${hh.keys}")
      assert(hh("hot") <= 3000 && hh("hot") >= 3000 - n / (k + 1), s"hot=${hh("hot")}")
      assert(hh("warm") <= 1500 && hh("warm") >= 1500 - n / (k + 1), s"warm=${hh("warm")}")
    }
  }

  test("k larger than cardinality degenerates to exact counts") {
    val hh = Seq("a", "b", "a", "c", "a", "b").toDF("item")
      .repartition(3)
      .agg(expr("misra_gries(item, 10)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("works as a streaming aggregate: trending items in complete mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val in = MemoryStream[String](spark)
    val q = in.toDF().toDF("item")
      .agg(expr("misra_gries(item, 4)").as("hh"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("mg_trending").start()
    try {
      in.addData(Seq.fill(50)("hot") ++ (1 to 30).map(i => s"n$i"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(40)("hot") ++ Seq.fill(25)("warm"))
      q.processAllAvailable()
      val hh = spark.table("mg_trending")
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // N=145, k=4: anything above 145/5=29 must be present
      assert(hh.contains("hot") && hh.contains("warm"), hh.toString)
      assert(hh("hot") <= 90 && hh("hot") >= 90 - 29, hh.toString)
    } finally q.stop()
  }

  test("weighted at w = 1 equals unweighted on the same rows and partitioning") {
    // one Aggregate computes both, so both see the same rows in the same
    // order and merge the same partials in the same order; at w = 1 the
    // weighted update's (k+1)-th-largest cut is the unweighted
    // decrement-by-one, so the sketches must be identical
    val k = 16
    for (parts <- Seq(1, 7, 32)) {
      val r = fixture(parts).agg(
          expr(s"misra_gries(item, $k)").as("mg"),
          expr(s"misra_gries_w(item, 1L, $k)").as("mgw")).head
      val mg = r.getSeq[org.apache.spark.sql.Row](0)
      assert(mg.nonEmpty && mg.size <= k, s"parts=$parts: $mg")
      assert(mg == r.getSeq[org.apache.spark.sql.Row](1), s"parts=$parts")
    }
  }

  test("analysis-time type check rejects non-string items") {
    val e = intercept[Exception] {
      spark.range(5).agg(expr("misra_gries(id, 4)")).collect()
    }
    assert(e.getMessage.contains("misra_gries"), e.getMessage)
  }

  // ---- weighted variant (topKWeighted analog) ----------------------------

  /** 4000 noise items of weight 1 each + "hot" carrying 30% and "warm"
    * 15% of the total weight via a few high-weight rows — the case
    * unweighted MG fundamentally misses (hot appears in only 6 ROWS). */
  private def weightedFixture(parts: Int) = {
    val noise = (0 until 4000).map(i => (s"item_$i", 1L))
    val hot = Seq.fill(6)(("hot", 500L))   // 3000 weight in 6 rows
    val warm = Seq.fill(3)(("warm", 500L)) // 1500 weight in 3 rows
    val all = (noise ++ hot ++ warm).zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) % 4009 }
      .map(_._1)
    all.toDF("item", "w").repartition(parts)
  }

  test("weighted: heavy-WEIGHT items survive any partitioning within W/(k+1)") {
    val wTot = 4000.0 + 3000.0 + 1500.0
    val k = 16
    for (parts <- Seq(1, 7, 32)) {
      val hh = weightedFixture(parts)
        .agg(expr(s"misra_gries_w(item, w, $k)").as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(hh.size <= k, s"sketch overflow: ${hh.size}")
      assert(hh.contains("hot") && hh.contains("warm"),
        s"lost a heavy-weight item at parts=$parts: ${hh.keys}")
      assert(hh("hot") <= 3000 && hh("hot") >= 3000 - wTot / (k + 1), s"hot=${hh("hot")}")
      assert(hh("warm") <= 1500 && hh("warm") >= 1500 - wTot / (k + 1), s"warm=${hh("warm")}")
    }
  }

  test("weighted: k above cardinality is exact; null/non-positive weights carry no mass") {
    val hh = Seq(("a", 3L), ("b", 2L), ("a", 1L), ("c", 0L), ("b", -5L))
      .toDF("item", "w").repartition(2)
      .agg(expr("misra_gries_w(item, w, 10)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == Map("a" -> 4L, "b" -> 2L))
  }
}
