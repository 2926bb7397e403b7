package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.similarity.Ann

/** Recall/shape tests for the approximate & stubbed operators that the
  * DuckDB oracle can't check. */
class AnnMultimodalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)

  test("LSH top-k: well-formed and overlaps the exact top-k") {
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 20, k = 5)
    val approx = Ann.lshTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 20, k = 5, dim = 64, nPlanes = 6)
    val a = approx.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = exact.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.nonEmpty)
    // every approx result must be a true same-bucket neighbor of its query
    // and per-query at most k rows
    val perQuery = approx.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) <= 5))
    // recall floor: multi-probe (hamming-1) on 6 planes over random
    // 64-dim vectors lands well above the ~6% single-probe baseline
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall > 0.15, s"recall=$recall")
  }

  test("LSH bucket assignment is deterministic") {
    val b1 = emb.select(Ann.lshBucket(col("embedding"), 64, 6)).collect().map(_.getLong(0))
    val b2 = emb.select(Ann.lshBucket(col("embedding"), 64, 6)).collect().map(_.getLong(0))
    assert(b1.toSeq === b2.toSeq)
    assert(b1.toSet.size > 1) // vectors actually spread across buckets
  }

  test("native graft_dot is bit-identical to the HOF dot on real embeddings") {
    val both = emb.select(
      graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("hof"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() === 0)
    // null element and length mismatch → null (zip_with/aggregate parity)
    import spark.implicits._
    val edge = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)),
      (Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
    val out = edge.select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0)) // length mismatch
    assert(out(1).getDouble(0) === 11.0)
  }

  test("IVF top-k: well-formed, deterministic, and beats single-bucket recall") {
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 20, k = 5)
    val ivf = Ann.ivfTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") < 20, k = 5, nCentroids = 16, nProbe = 4)
    val a = ivf.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = exact.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.nonEmpty)
    val perQuery = ivf.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) <= 5))
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall > 0.1, s"recall=$recall")
  }

  test("IVF with trained k-means: recall@5 >= 0.9 on planted clusters") {
    import spark.implicits._
    val dim = 16
    // deterministic pseudo-random in [-1, 1] (no RNG state)
    def rnd(i: Long, j: Int): Double =
      (((i * 1315423911L + j * 2654435761L) & 0xffffL).toDouble / 32768.0) - 1.0
    val centers = Array.tabulate(8, dim)((c, j) => rnd(c * 977L, j) * 10.0)
    val rows = for { c <- 0 until 8; m <- 0 until 30 } yield {
      val id = (c * 30 + m).toLong
      (id, Array.tabulate(dim)(j => (centers(c)(j) + rnd(id + 7919L, j) * 0.5).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val isQuery = col("vec_id") % 30 === 0 // one query per planted cluster
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), isQuery, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, col("vec_id"), col("embedding"), isQuery,
        k = 5, nCentroids = 8, nProbe = 2, kmeansIters = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall over ${exact.size} exact results")
  }

  test("IVF-PQ: well-formed top-k from the query's own planted cluster") {
    import spark.implicits._
    val dim = 16
    def rnd(i: Long, j: Int): Double =
      (((i * 1315423911L + j * 2654435761L) & 0xffffL).toDouble / 32768.0) - 1.0
    val centers = Array.tabulate(4, dim)((c, j) => rnd(c * 977L, j) * 10.0)
    val rows = for { c <- 0 until 4; mm <- 0 until 25 } yield {
      val id = (c * 25 + mm).toLong
      (id, Array.tabulate(dim)(j => (centers(c)(j) + rnd(id + 7919L, j) * 0.3).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.similarity.Pq.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      isQuery = col("vec_id") % 25 === 0, k = 5,
      nCentroids = 4, nProbe = 2, ivfIters = 3, m = 2, pqK = 4, pqIters = 2, dim = dim)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // well-formed: 4 queries × 5 results, ranks 1..5
    assert(got.length === 20, got.length.toString)
    assert(got.groupBy(_._1).values.forall(_.map(_._3).sorted.sameElements(1 to 5)))
    // a clear majority of candidates come from the query's own planted
    // cluster, and the TOP hit always does (tiny m=2/k=4 codebooks
    // reconstruct coarsely, so some tail cross-talk is expected — the
    // exactness story is the oracle, this is the shape check)
    val sameCluster = got.count { case (q, v, _) => q / 25 === v / 25 }
    assert(sameCluster >= 12, s"$sameCluster/20 same-cluster")
    val top1Same = got.filter(_._3 == 1).count { case (q, v, _) => q / 25 === v / 25 }
    assert(top1Same >= 3, s"$top1Same/4 rank-1 hits in-cluster")
    // deterministic re-run
    val again = graft.similarity.Pq.ivfPqTopK(emb, col("vec_id"), col("embedding"),
      isQuery = col("vec_id") % 25 === 0, k = 5,
      nCentroids = 4, nProbe = 2, ivfIters = 3, m = 2, pqK = 4, pqIters = 2, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(again.toSeq === got.toSeq)
  }

  test("PQ codes: in-range, deterministic, and same-cluster vectors agree") {
    import spark.implicits._
    val dim = 16
    def rnd(i: Long, j: Int): Double =
      (((i * 1315423911L + j * 2654435761L) & 0xffffL).toDouble / 32768.0) - 1.0
    val centers = Array.tabulate(4, dim)((c, j) => rnd(c * 977L, j) * 10.0)
    val rows = for { c <- 0 until 4; m <- 0 until 20 } yield {
      val id = (c * 20 + m).toLong
      (id, Array.tabulate(dim)(j => (centers(c)(j) + rnd(id + 7919L, j) * 0.2).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val m = 2; val k = 4
    val out = graft.similarity.Pq.codes(emb, col("vec_id"), col("embedding"),
      m = m, k = k, iters = 3, dim = dim)
    val got = out.collect().map(r =>
      r.getLong(0) -> (0 until m).map(i => r.getInt(i + 1))).toMap
    assert(got.size === rows.size)
    assert(got.values.forall(_.forall(c => c >= 0 && c < k)))
    // tightly planted clusters collapse to one code word per cluster
    // in (nearly) every subspace
    val agree = (0 until 4).count { c =>
      val cluster = (0 until 20).map(mm => got((c * 20 + mm).toLong))
      cluster.distinct.size == 1
    }
    assert(agree >= 3, s"only $agree/4 planted clusters code-collapsed")
    // deterministic re-run
    val again = graft.similarity.Pq.codes(emb, col("vec_id"), col("embedding"),
      m = m, k = k, iters = 3, dim = dim)
      .collect().map(r => r.getLong(0) -> (0 until m).map(i => r.getInt(i + 1))).toMap
    assert(again === got)
  }

  test("approx_count_distinct sketch lands within 10% of exact") {
    // the query itself now emits the accuracy boolean (oracle-checked:
    // the DuckDB side emits TRUE, so a drifting sketch hash-mismatches)
    val rows = graft.queries.Queries.runners("q_sketch_distinct")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_10pct"), r.toString)
      assert(r.getAs[Long]("exact_users") > 0)
    }
  }

  test("multimodal: synthesize → partition-parallel decode → fixed-dim features") {
    val media = Multimodal.synthesize(Tables.documents(spark, dir))
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length === 500)
    assert(rows.forall(_.features.length === Multimodal.FeatureDim))
    // histogram is L1-normalized → sums to ~1 for non-empty payloads
    val sums = rows.filter(_.n_bytes > 0).map(_.features.map(_.toDouble).sum)
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-3))
    // deterministic stub: same payload → same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.sortBy(_.doc_id).map(_.features.toSeq).toSeq ===
      again.sortBy(_.doc_id).map(_.features.toSeq).toSeq)
  }

  test("multimodal: injected decoder replaces the stub, plan unchanged") {
    val media = Multimodal.synthesize(Tables.documents(spark, dir))
    // a custom decoder: constant-dim vector carrying payload length in
    // slot 0 — proves extractFeatures runs the INJECTED function, not
    // the stub, through the same mapPartitions plumbing
    val custom: Multimodal.Decoder = { bytes =>
      val v = new Array[Float](Multimodal.FeatureDim)
      v(0) = if (bytes == null) -1f else bytes.length.toFloat
      v
    }
    val rows = Multimodal.extractFeatures(media, custom).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.features.length === Multimodal.FeatureDim))
    assert(rows.forall(r => r.features(0) === r.n_bytes.toFloat))
    assert(rows.forall(r => r.features.drop(1).forall(_ === 0f)))
  }

  test("multimodal pipeline: every doc gets a verdict; dropped docs have a kept lower-id cluster-mate") {
    val out = Multimodal.pipeline(Tables.documents(spark, dir), threshold = 0.999)
      .collect()
    assert(out.length === 500)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val dropped = out.filter(!_.getAs[Boolean]("keep"))
    assert(dropped.nonEmpty) // planted near-dups share byte histograms
    assert(out.exists(_.getAs[Boolean]("keep")))
    // every cluster retains at least one kept member, and the lowest id
    // in each cluster is always kept (the keep-lowest-id rule)
    out.groupBy(_.getAs[Int]("cent_id")).foreach { case (_, members) =>
      val lowest = members.minBy(_.getAs[Long]("doc_id"))
      assert(lowest.getAs[Boolean]("keep"), s"lowest id dropped: $lowest")
    }
  }

  test("frame sampling stub: n chunks covering the payload") {
    val payload = Array.tabulate[Byte](100)(_.toByte)
    val frames = Multimodal.frameSampleStub(payload, 4)
    assert(frames.length === 4)
    assert(frames.map(_.length).sum === 100)
    assert(Multimodal.frameSampleStub(Array.emptyByteArray, 4).isEmpty)
  }

  test("resize stub: nearest-neighbor picks, shape contract, degenerate inputs") {
    // 4×2 grid 0..7 row-major → 2×1: dst(0,0) = src(r=0,c=0) = 0,
    // dst(0,1) = src(r=0, c=⌊1·4/2⌋=2) = byte 2
    val grid = Array.tabulate[Byte](8)(_.toByte)
    val down = Multimodal.resizeStub(grid, 4, 2, 2, 1)
    assert(down.toSeq === Seq[Byte](0, 2))
    // upscale 2×1 (bytes 10, 20) → 4×2: each source byte repeats 2×2
    val up = Multimodal.resizeStub(Array[Byte](10, 20), 2, 1, 4, 2)
    assert(up.toSeq === Seq[Byte](10, 10, 20, 20, 10, 10, 20, 20))
    assert(Multimodal.resizeStub(Array.emptyByteArray, 4, 4, 2, 2).isEmpty)
    assert(Multimodal.resizeStub(grid, 4, 2, 0, 3).isEmpty)
    // dataset plumbing: metadata updates with the payload
    import spark.implicits._
    val media = Multimodal.synthesize(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"))
    val r = Multimodal.resize(media, dstW = 8, dstH = 4).collect().head
    assert(r.width === 8 && r.height === 4 && r.payload.length === 32)
  }
}
