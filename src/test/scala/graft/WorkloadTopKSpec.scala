package graft

import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.sinks.Warehouse
import graft.sources.Workload

class WorkloadTopKSpec extends SparkSpec {
  import spark.implicits._

  test("workload generator: deterministic, reference-shaped distributions") {
    val a = Workload.batch(spark, 2000).collect()
    val b = Workload.batch(spark, 2000).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq) // reproducible
    val df = Workload.batch(spark, 2000)
    val types = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.keySet === Workload.EventTypes.toSet)
    // click ⇔ null duration (generator.py:71–72 / init.sql:94)
    assert(df.filter(col("event_type") === "click" && col("duration_ms").isNotNull).count() === 0)
    assert(df.filter(col("event_type") =!= "click" && col("duration_ms").isNull).count() === 0)
    // jitter within 300 s of the anchor
    val range = df.select(min("event_ts").cast("string"), max("event_ts").cast("string")).head
    assert(range.getString(0) >= "2024-01-01 11:55:00")
    assert(range.getString(1) <= "2024-01-01 12:00:00")
  }

  test("workload → Debezium JSON → unwrap round-trips") {
    val events = Workload.batch(spark, 100)
    val back = Envelope.unwrapEngagement(Workload.asDebeziumJson(events))
    assert(back.count() === 100)
    val orig = events.select(col("id"), col("event_type"), col("duration_ms"))
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val got = back.select(col("event_id"), col("event_type"), col("duration_ms"))
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got === orig)
  }

  test("warehouse sink: at-least-once appends dedup on read and after compaction") {
    val path = tmpDir("wh") + "/t"
    val batch = Workload.batch(spark, 500)
      .select(col("id").as("event_id"), col("event_ts"), col("event_type"), col("duration_ms"))
    Warehouse.append(batch, path)
    Warehouse.append(batch, path) // duplicate delivery (replay)
    // raw storage (live manifest's files) holds both deliveries
    assert(graft.sinks.SnapshotStore.read(spark, path).get.count() === 1000)
    assert(Warehouse.read(spark, path).count() === 500) // FINAL-analog read
    Warehouse.compact(spark, path)
    assert(graft.sinks.SnapshotStore.read(spark, path).get.count() === 500) // merged
    assert(Warehouse.read(spark, path).count() === 500)
  }

  test("bounded_top_k matches the sort-based top-k formulation") {
    val df = Workload.batch(spark, 5000)
      .select(pmod(col("id"), lit(7)).as("g"), col("id").as("key"),
        (pmod(hash(col("id")), lit(1000)).cast("double") / 10).as("score"))
    val custom = df.groupBy("g")
      .agg(expr("bounded_top_k(score, key, 5)").as("topk"))
      .select(col("g"), posexplode(col("topk")).as(Seq("pos", "p")))
      .select(col("g"), col("p.key").as("key"), col("p.score").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("key").asc)
    val sorted = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("g", "key", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(custom === sorted)
    assert(custom.size === 35) // 7 groups × 5
  }
}
