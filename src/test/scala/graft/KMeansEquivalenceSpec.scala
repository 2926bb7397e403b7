package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroids, VectorFunctions}
import graft.similarity.{IvfIndex, KMeans}

/** Equivalence pins for the r15 map-only assignment optimization
  * (guide §2.4): [[KMeans.assign]] became a single projection
  * (graft_nearest_cents) instead of a broadcast-join + per-id hash
  * aggregate, and [[IvfIndex.publish]]'s budgeted fit moved driver-local
  * ([[KMeans.fitLocal]]). Both must be BYTE-EQUAL to the distributed
  * forms they replaced — the DuckDB oracles enforce it per query; these
  * tests enforce it at the operator seam (the AnnMultimodalSpec
  * graft_dot-swap precedent), including the zero-norm NULL-sentinel
  * row the fixtures may not cover at every SF. */
class KMeansEquivalenceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  /** The pre-r15 assignment (broadcast nested-loop join → coalesced
    * cosine → max(struct)/bounded_top_k), kept verbatim as the
    * reference semantics. */
  private def assignOld(e: DataFrame, cents: DataFrame, probes: Int): DataFrame = {
    val scored = e.join(broadcast(cents), expr("true"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        when(col("nrm") > 0 && col("cnrm") > 0,
          call_function("graft_dot", col("v"), col("cv")) / (col("nrm") * col("cnrm")))
          .as("cent_cos"))
    if (probes == 1)
      scored.groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          max(struct(coalesce(col("cent_cos"), lit(-2.0)).as("c"),
            (-col("cent_id")).as("nc"))).as("__m"))
        .select(col("vec_id"), col("v"), col("nrm"), (-col("__m.nc")).as("cent_id"))
    else
      scored.groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
          expr(s"bounded_top_k(coalesce(cent_cos, -2.0D), " +
            s"CAST(cent_id AS BIGINT), $probes)").as("__top"))
        .select(col("vec_id"), col("v"), col("nrm"), explode(col("__top")).as("t"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("t.key").cast("int").as("cent_id"))
  }

  /** Corpus projection plus one synthetic ZERO vector (norm 0 → every
    * centroid scores the −2.0 sentinel → winner must be cent_id 0). */
  private def corpusWithZero: DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      VectorFunctions.norm(col("embedding")).as("nrm"))
    val zero = spark.range(1).select(
      lit(999999L).as("vec_id"),
      typedLit(Seq.fill(64)(0.0)).as("v"),
      lit(0.0).as("nrm"))
    base.unionByName(zero)
  }

  test("map-only assign == join+aggregate assign (probes = 1, incl. zero-norm row)") {
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, col("vec_id"), col("embedding"), 16, 2))
    val e = corpusWithZero
    val now = KMeans.assign(e, cents, probes = 1)
      .select("vec_id", "cent_id")
    val old = assignOld(e, cents, probes = 1).select("vec_id", "cent_id")
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.filter(col("vec_id") === 999999L && col("cent_id") === 0).count() === 1L)
  }

  test("map-only assign == join+aggregate assign (probes = 3)") {
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, col("vec_id"), col("embedding"), 16, 2))
    val e = corpusWithZero
    val now = KMeans.assign(e, cents, probes = 3).select("vec_id", "cent_id")
    val old = assignOld(e, cents, probes = 3).select("vec_id", "cent_id")
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
  }

  test("map-only assign is a projection: zero Exchange in its plan") {
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, col("vec_id"), col("embedding"), 16, 2))
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      VectorFunctions.norm(col("embedding")).as("nrm"))
    val p = KMeans.assign(e, cents, probes = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must stay map-only:\n${p.take(1500)}")
  }

  test("fitLocal == fit on the budgeted hash-order sample, byte-equal centroids") {
    val s = IvfIndex.sample(emb, col("vec_id"), col("embedding"), 200)
    val distributed = KMeans.fit(s, col("vec_id"), col("embedding"), 16, 5)
    val vecs = s.select(col("embedding").cast("array<double>"))
      .collect().map(r => if (r.isNullAt(0)) Array.empty[Double]
                          else r.getSeq[Double](0).toArray)
    val local = KMeans.fitLocal(vecs, 16, 5)
    assert(local.length === distributed.length)
    local.zip(distributed).foreach { case (l, d) =>
      assert(l.centId === d.centId)
      assert(l.cv.length === d.cv.length, s"dim mismatch at cent ${l.centId}")
      l.cv.zip(d.cv).zipWithIndex.foreach { case ((a, b), j) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b),
          s"cent ${l.centId} dim $j: local $a != distributed $b")
      }
    }
  }

  test("broadcast assign: map-only, handles freed at resolution") {
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, col("vec_id"), col("embedding"), 16, 2))
    // every fit iteration's broadcast handle was taken out when its
    // assignment resolved: the plans alone hold the matrices
    assert(NearestCentroids.pendingHandles === 0)
    val e = corpusWithZero
    val z = KMeans.assign(e, cents, probes = 1)
    assert(NearestCentroids.pendingHandles === 0,
      "a built assign frame must not leave its handle registered")
    val an = z.queryExecution.analyzed.toString
    assert(an.contains("graft_nearest_cents"), an.take(800))
    // the frame still executes after its handle left the registry:
    // the same rows as the join+aggregate form, and the zero-norm
    // sentinel row maps to cent_id 0
    val now = z.select("vec_id", "cent_id")
    val old = assignOld(e, cents, probes = 1).select("vec_id", "cent_id")
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(z.filter(col("vec_id") === 999999L && col("cent_id") === 0).count() === 1L)
    // still map-only: the broadcast must not bring a shuffle or join
    // into the assignment
    val p = z.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(1500))
  }

  test("fitLocal: k larger than the sample, and an empty sample") {
    val s = IvfIndex.sample(emb, col("vec_id"), col("embedding"), 5)
    val d5 = KMeans.fit(s, col("vec_id"), col("embedding"), 16, 2)
    val vecs = s.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val l5 = KMeans.fitLocal(vecs, 16, 2)
    assert(l5.length === d5.length && l5.length === 5)
    l5.zip(d5).foreach { case (l, d) => assert(l.cv.toSeq === d.cv.toSeq) }
    assert(KMeans.fitLocal(Array.empty, 16, 2).isEmpty)
  }
}
