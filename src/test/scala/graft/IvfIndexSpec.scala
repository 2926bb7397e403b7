package graft

import org.apache.spark.sql.functions._

import graft.similarity.IvfIndex

/** Semantics of the incremental IVF refresh loop the q_ivf_refresh
  * gate can't name: that maintenance under an UNCHANGED model assigns
  * only the new vectors, that a version bump re-assigns everything,
  * and that the loop's final state equals a one-shot batch build. */
class IvfIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def tmp(p: String): String = tmpDir(p)

  test("budgeted sample binds and is hash-deterministic") {
    val s1 = IvfIndex.sample(emb, col("vec_id"), col("embedding"), 200)
    assert(s1.count() === 200L)
    val s2 = IvfIndex.sample(emb, col("vec_id"), col("embedding"), 200)
    assert(s1.select("vec_id").exceptAll(s2.select("vec_id")).count() === 0L)
  }

  test("maintenance is incremental under a held model, full on a version bump") {
    val cents = tmp("ivf-c") + "/cents"
    val cells = tmp("ivf-a") + "/cells"
    val first = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val nFirst = first.count()
    val nAll = emb.count()
    IvfIndex.publish(spark, cents, first, col("vec_id"), col("embedding"),
      version = 1L)
    assert(IvfIndex.maintainCells(spark, cells, cents, first,
      col("vec_id"), col("embedding")) === nFirst)
    // second chunk under the SAME model: only the new vectors assign
    assert(IvfIndex.maintainCells(spark, cells, cents, emb,
      col("vec_id"), col("embedding")) === nAll - nFirst)
    // idempotent: nothing new, nothing assigned
    assert(IvfIndex.maintainCells(spark, cells, cents, emb,
      col("vec_id"), col("embedding")) === 0L)
    // version bump: the whole corpus re-assigns once
    IvfIndex.publish(spark, cents, emb, col("vec_id"), col("embedding"),
      version = 2L)
    assert(IvfIndex.maintainCells(spark, cells, cents, emb,
      col("vec_id"), col("embedding")) === nAll)
    val store = graft.sinks.SnapshotStore.read(spark, cells).get
    assert(store.count() === nAll)
    assert(store.filter(col("model_version") =!= 2L).count() === 0L)
  }

  test("refresh-loop final state is bit-identical to a one-shot batch build") {
    // the loop: v1 on half, incremental catch-up, v2 on full, re-assign
    val centsA = tmp("ivf-c2") + "/cents"
    val cellsA = tmp("ivf-a2") + "/cells"
    val first = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    IvfIndex.publish(spark, centsA, first, col("vec_id"), col("embedding"), 1L)
    IvfIndex.maintainCells(spark, cellsA, centsA, first, col("vec_id"), col("embedding"))
    IvfIndex.maintainCells(spark, cellsA, centsA, emb, col("vec_id"), col("embedding"))
    IvfIndex.publish(spark, centsA, emb, col("vec_id"), col("embedding"), 2L)
    IvfIndex.maintainCells(spark, cellsA, centsA, emb, col("vec_id"), col("embedding"))
    // the one-shot build: v2 straight onto fresh stores
    val centsB = tmp("ivf-c3") + "/cents"
    val cellsB = tmp("ivf-a3") + "/cells"
    IvfIndex.publish(spark, centsB, emb, col("vec_id"), col("embedding"), 2L)
    IvfIndex.maintainCells(spark, cellsB, centsB, emb, col("vec_id"), col("embedding"))
    val a = IvfIndex.topK(spark, cellsA, centsA, emb, col("vec_id"),
      col("embedding"), isQuery = col("vec_id") < 20, k = 5)
    val b = IvfIndex.topK(spark, cellsB, centsB, emb, col("vec_id"),
      col("embedding"), isQuery = col("vec_id") < 20, k = 5)
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }
}
