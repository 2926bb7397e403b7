package graft

import org.apache.spark.sql.functions._

import graft.dedup.{MinHash, MinHashIndex}
import graft.sinks.SnapshotStore

/** Incremental-equals-batch contract for the MinHash near-dup index. */
class MinHashIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, dir)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental union over any batch split equals the batch pass") {
    // precondition of the equivalence contract: no oversized buckets
    assert(MinHash.oversizedBuckets(
      MinHash.signatures(docs, col("doc_id"), col("text"))).isEmpty)
    val batchPairs = pairSet(
      MinHash.verifiedPairs(docs, col("doc_id"), col("text")))
    val tmp = tmpDir("graft_mhidx_spec")
    val incremental = (0 to 2).map { b =>
      pairSet(MinHashIndex.processBatch(spark, tmp,
        docs.filter(pmod(col("doc_id"), lit(3)) === b),
        col("doc_id"), col("text"), tag = s"b$b"))
    }
    // each pair arrives exactly once — when its later doc lands
    assert(incremental.map(_.size).sum === incremental.reduce(_ ++ _).size,
      "a pair was emitted by more than one batch")
    assert(incremental.reduce(_ ++ _) === batchPairs)
  }

  test("replaying a batch tag is a no-op on the index") {
    val tmp = tmpDir("graft_mhidx_replay")
    val b0 = docs.filter(col("doc_id") < 100)
    MinHashIndex.processBatch(spark, tmp, b0, col("doc_id"), col("text"), "b0")
    def counts() = (
      SnapshotStore.read(spark, s"$tmp/bands").get.count(),
      SnapshotStore.read(spark, s"$tmp/shingles").get.count())
    val before = counts()
    MinHashIndex.processBatch(spark, tmp, b0, col("doc_id"), col("text"), "b0")
    assert(counts() === before, "replayed tag appended duplicate index rows")
  }

  test("maintain indexes corpus commits exactly once") {
    val corpus = tmpDir("graft_mhidx_corpus")
    val index = tmpDir("graft_mhidx_index")
    SnapshotStore.commitAppend(spark, corpus,
      docs.filter(col("doc_id") < 250), tag = Some("c0"))
    val first = MinHashIndex.maintain(spark, corpus, index)
    assert(first.isDefined)
    // already current → None, and no index growth
    assert(MinHashIndex.maintain(spark, corpus, index).isEmpty)
    SnapshotStore.commitAppend(spark, corpus,
      docs.filter(col("doc_id") >= 250), tag = Some("c1"))
    val second = MinHashIndex.maintain(spark, corpus, index)
    assert(second.isDefined)
    val all = pairSet(MinHash.verifiedPairs(docs, col("doc_id"), col("text")))
    val inc = pairSet(first.get._2) ++ pairSet(second.get._2)
    assert(inc === all)
  }
}
