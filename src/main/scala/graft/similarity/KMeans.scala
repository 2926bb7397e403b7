package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{NearestCentroids, TextFunctions, VectorFunctions}

/** Deterministic Lloyd's k-means over an `array<float>` embedding
  * column, supplying real trained centroids for the IVF ANN path
  * (graft.similarity.Ann.ivfTopK).
  *
  * Everything is engineered to be bit-reproducible by an external SQL
  * engine (the DuckDB oracle in [[Ann.ivfTopKOracle]] replays the whole
  * fit), which is what turns the IVF recall story from "trust me" into
  * a hash-checked correctness row:
  *
  *  - **init**: the k corpus vectors with the smallest portable hash
  *    md5Long(vec_id) become centroids 0..k-1 (hash order) — a
  *    deterministic pseudo-random sample, no RNG state;
  *  - **assignment**: nearest centroid by cosine (ties → lowest
  *    cent_id), the same rule the IVF probe uses, so training and
  *    serving agree;
  *  - **update**: the mean goes through integer quantization —
  *    `floor(x * 2^20 + 0.5)` per component, summed as BIGINT —
  *    because integer sums are exact and order-independent on any
  *    partitioning (a 1000-executor sum of doubles is not), and both
  *    engines floor identical binary doubles identically. A decimal
  *    cast would NOT be safe here: float components can be dyadic
  *    rationals (m/2^17) whose decimal expansion lands exactly on the
  *    .5 rounding boundary at any fixed decimal scale, where rounding
  *    modes diverge across engines. The ~1e-6 quantization error is
  *    irrelevant to cluster geometry.
  *
  * Scale posture: each iteration is one pass over the corpus — a
  * broadcast-nested-loop against k centroid rows (map-only) plus one
  * (cent_id, dim) aggregation with map-side partials; only k×dim means
  * (a few KB) ever reach the driver, never corpus rows. At 100 TB you
  * would fit on a sample and broadcast the result; the per-iteration
  * plumbing is unchanged.
  */
object KMeans {

  /** Scaling constant for the exact-integer mean (2^20). */
  val QuantScale = 1048576.0

  /** Max BIGINT-safe row count per (cluster, dim) group for the
    * quantized sum: |x| ≲ 2 ⇒ |q| ≲ 2^21, so ~2^42 rows fit in a long
    * with headroom. Document-level sanity, not enforced. */
  val MaxSafeRows: Long = 1L << 42

  final case class Centroid(centId: Int, cv: Array[Double])

  /** Corpus projection used throughout: (vec_id, v: array<double>, nrm). */
  private def corpus(emb: DataFrame, id: Column, vec: Column): DataFrame =
    emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
      VectorFunctions.norm(vec).as("nrm"))

  /** Deterministic init: the k vectors with the smallest
    * md5Long(CAST(vec_id AS VARCHAR)), in hash order → cent_id 0..k-1. */
  private def initCentroids(e: DataFrame, k: Int): Array[Centroid] = {
    val rows = e
      .select(col("vec_id"), col("v"),
        TextFunctions.md5Long(col("vec_id").cast(StringType)).as("h"))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(k)
      .collect()
    rows.zipWithIndex.map { case (r, i) =>
      Centroid(i, r.getSeq[Double](1).toArray)
    }
  }

  /** Centroids as a small DataFrame (cent_id, cv, cnrm) for broadcast. */
  def centroidFrame(spark: SparkSession, cents: Array[Centroid]): DataFrame = {
    val rows = cents.map(c => Row(c.centId, c.cv.toSeq)).toSeq
    val schema = StructType(Seq(
      StructField("cent_id", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .withColumn("cnrm", VectorFunctions.norm(col("cv")))
  }

  /** Nearest-centroid assignment by cosine (ties → lowest cent_id):
    * ONE codegen'd projection per row ([[graft.functions.NearestCentroids]]
    * — centroids are k×dim driver-side doubles by construction, so they
    * ship as one broadcast and every row scores all k centroids in a
    * single fused loop, keeping its top `probes`). Shared by
    * training (probes=1) and the IVF query path (probes=nProbe).
    *
    * r15 optimization (guide §2.4 "remove shuffles outright"): the
    * previous form was a broadcast-nested-loop join materializing
    * |corpus|×k scored rows followed by a groupBy(vec_id) hash
    * aggregate that re-shuffled EVERY embedding array (first(v),
    * first(nrm)) just to pick the per-row winner. The winner is a
    * per-row decision — no cross-row information — so the whole
    * shuffle was removable: assignment is now map-only (zero Exchange,
    * |corpus|×k rows never materialize) and preserves the scan
    * partitioning. Order semantics are bit-identical:
    * score = graft_dot/(nrm·cnrm) with the −2.0 NULL-sentinel coalesce,
    * selection by (score desc, cent_id asc) — the old
    * max(struct(c, −cent_id)) / bounded_top_k total order — enforced
    * by every caller's unchanged window-replay DuckDB oracle. */
  def assign(e: DataFrame, cents: DataFrame, probes: Int,
      idCol: String = "vec_id", vCol: String = "v", nCol: String = "nrm"): DataFrame = {
    // k centroid rows — the ANN family's sanctioned driver state
    val rows = cents.select(col("cent_id").cast("int"),
      col("cv").cast("array<double>"), col("cnrm").cast("double")).collect()
    val sorted = rows.sortBy(_.getInt(0))
    assignTo(e,
      sorted.map(_.getInt(0)),
      sorted.map(_.getSeq[Double](1).toArray),
      sorted.map(_.getDouble(2)),
      probes, idCol, vCol, nCol)
  }

  /** [[assign]] against an in-driver centroid array (the [[fit]] loop's
    * form — skips the centroidFrame→collect round-trip per iteration).
    * Norms are the same sequential-fold-then-sqrt the Column form
    * computes. */
  private[similarity] def assignLocal(e: DataFrame, cents: Array[Centroid],
      probes: Int, idCol: String = "vec_id", vCol: String = "v",
      nCol: String = "nrm"): DataFrame =
    assignTo(e, cents.map(_.centId), cents.map(_.cv),
      cents.map(c => localNorm(c.cv)), probes, idCol, vCol, nCol)

  /** Sequential left-fold norm — bit-identical to
    * [[VectorFunctions.norm]] (same fold order, IEEE sqrt). */
  private[similarity] def localNorm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The shared map-only assignment: positions from the
    * graft_nearest_cents projection, mapped back to cent_ids (identity
    * for the 0..k−1 frames every caller builds; kept general). */
  private def assignTo(e: DataFrame, ids: Array[Int], cvs: Array[Array[Double]],
      cnrms: Array[Double], probes: Int, idCol: String, vCol: String,
      nCol: String): DataFrame = {
    if (ids.isEmpty) // no centroids ⇒ no assignments (the old join form's shape)
      return e.select(col(idCol), col(vCol), col(nCol),
        lit(0).as("cent_id")).filter(lit(false))
    val nc = NearestCentroids.columnFor(e.sparkSession,
      cvs, cnrms, math.min(probes, ids.length),
      col(vCol).cast("array<double>"), col(nCol).cast("double"))
    val idLit = typedLit(ids.toSeq)
    if (probes == 1)
      e.select(col(idCol), col(vCol), col(nCol),
        element_at(idLit, element_at(nc, 1) + 1).as("cent_id"))
    else
      e.select(col(idCol), col(vCol), col(nCol), explode(nc).as("__p"))
        .select(col(idCol), col(vCol), col(nCol),
          element_at(idLit, col("__p") + 1).as("cent_id"))
  }

  /** Lloyd's fit: returns the trained centroids after `iters`
    * assignment/update rounds. Only k×dim doubles cross the driver per
    * iteration (the centroids themselves — the broadcast side). Empty
    * clusters keep their previous centroid. */
  def fit(emb: DataFrame, id: Column, vec: Column, k: Int, iters: Int): Array[Centroid] = {
    val e = corpus(emb, id, vec).cache()
    try {
      var cents = initCentroids(e, k)
      for (_ <- 1 to iters) {
        val assigned = assignLocal(e, cents, probes = 1)
        val means = assigned
          .select(col("cent_id"), posexplode(col("v")).as(Seq("j", "x")))
          .groupBy(col("cent_id"), col("j"))
          .agg(sum(floor(col("x") * lit(QuantScale) + lit(0.5)).cast(LongType)).as("s"),
            count(lit(1)).as("n"))
          .select(col("cent_id"), col("j"),
            (col("s").cast(DoubleType) / (col("n") * lit(QuantScale))).as("x"))
          .collect()
        val byCluster = means.groupBy(_.getInt(0))
        cents = cents.map { c =>
          byCluster.get(c.centId) match {
            case Some(rows) =>
              Centroid(c.centId,
                rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray)
            case None => c // empty cluster: carry the previous centroid
          }
        }
      }
      cents
    } finally e.unpersist()
  }

  /** Driver-local Lloyd's over an ALREADY-BOUNDED sample, byte-equal to
    * [[fit]] run on the same rows — the [[graft.ops.UnigramTok]]
    * driver-EM-under-budget precedent applied to the IVF refresh loop:
    * [[graft.similarity.IvfIndex.publish]] trains on a ≤budget
    * hash-order sample (hundreds of rows by parameter), where the
    * distributed loop's 2 jobs/iteration are pure scheduling overhead.
    * `vecs` must arrive in the init order ([[initCentroids]]'s
    * (md5Long(vec_id), vec_id) ascending — [[IvfIndex.sample]]'s own
    * order), double-cast; the first min(k, n) rows seed centroids
    * 0..k−1.
    *
    * Equivalence, piece by piece (KMeansSpec pins fit == fitLocal):
    * norms/dots are the same sequential left folds; assignment is
    * (score desc, cent_id asc) with the −2.0 sentinel via
    * Double.compare — [[assignLocal]]'s rule; means quantize each
    * component to floor(x·2^20 + 0.5) longs summed per (cluster, dim)
    * — integer sums are order-independent, so driver vs distributed
    * accumulation cannot drift — and divide s/(n·2^20) in the same
    * double ops; per-(cluster,dim) counts mirror the posexplode
    * grouping (a dim contributes only where a row has it); clusters
    * with no component rows keep their previous centroid. */
  def fitLocal(vecs: Array[Array[Double]], k: Int, iters: Int): Array[Centroid] = {
    val nrms = vecs.map(localNorm)
    var cents: Array[Centroid] =
      vecs.take(k).zipWithIndex.map { case (v, i) => Centroid(i, v) }
    val dim = vecs.foldLeft(0)((m, v) => math.max(m, v.length))
    for (_ <- 1 to iters if cents.nonEmpty) {
      val cnrms = cents.map(c => localNorm(c.cv))
      val sums = Array.ofDim[Long](cents.length, dim)
      val cnts = Array.ofDim[Long](cents.length, dim)
      var r = 0
      while (r < vecs.length) {
        val v = vecs(r)
        val nrm = nrms(r)
        var best = 0
        var bestS = Double.NaN
        var c = 0
        while (c < cents.length) {
          val s =
            if (nrm > 0 && cnrms(c) > 0 && v.length == cents(c).cv.length) {
              var d = 0.0
              var i = 0
              while (i < v.length) { d += v(i) * cents(c).cv(i); i += 1 }
              d / (nrm * cnrms(c))
            } else -2.0
          if (c == 0 || java.lang.Double.compare(s, bestS) > 0) {
            best = c; bestS = s // strict >: ties keep the LOWEST cent_id
          }
          c += 1
        }
        var j = 0
        while (j < v.length) {
          sums(best)(j) += math.floor(v(j) * QuantScale + 0.5).toLong
          cnts(best)(j) += 1
          j += 1
        }
        r += 1
      }
      cents = cents.map { cen =>
        val c = cen.centId
        val js = (0 until dim).filter(j => cnts(c)(j) > 0)
        if (js.isEmpty) cen // no component rows: carry the previous centroid
        else Centroid(c,
          js.map(j => sums(c)(j).toDouble / (cnts(c)(j) * QuantScale)).toArray)
      }
    }
    cents
  }

  // ---- DuckDB oracle fragments -------------------------------------------

  /** Sequential-fold dot product (DuckDB list_sum == Spark aggregate()
    * left fold, bit-for-bit — validated by the MinHash/ANN oracles). */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_sum([$a[i]*$b[i] FOR i IN range(1, len($a)+1)])"

  /** CTEs replaying fit() bit-for-bit over table `embeddings`
    * (vec_id, embedding). Emits CTEs `e` (corpus) and `cents_$iters`
    * (cent_id, cv, cnrm) — the final trained centroids. */
  def oracleCtes(k: Int, iters: Int, dim: Int): String =
    "WITH " + ctes(k, iters, dim)

  /** The CTE list of [[oracleCtes]] WITHOUT the WITH keyword, with every
    * CTE name prefixed — composable, so one query can replay several
    * independent fits (the PQ oracle trains one codebook per subspace).
    * `vecSql` is the DOUBLE[]-typed vector expression to cluster;
    * `fromSql` the source relation carrying (vec_id, the vecSql inputs)
    * — a table name or an earlier CTE (the multimodal pipeline oracle
    * clusters decoded feature vectors, not the embeddings table). */
  def ctes(k: Int, iters: Int, dim: Int, prefix: String = "",
      vecSql: String = "CAST(embedding AS DOUBLE[])",
      fromSql: String = "embeddings"): String = {
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    val sb = new StringBuilder
    sb ++= s"""${prefix}e AS (SELECT vec_id, $vecSql AS v, sqrt(${dotSql(vecSql, vecSql)}) AS nrm FROM $fromSql),
${prefix}cents_0 AS (SELECT CAST(row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS INTEGER) AS cent_id, v AS cv, nrm AS cnrm FROM (SELECT vec_id, v, nrm, CAST('0x'||substring(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT) AS h FROM ${prefix}e ORDER BY h ASC, vec_id ASC LIMIT $k))"""
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++= s""",
${prefix}assign_$t AS (SELECT vec_id, v, cent_id FROM (SELECT e.vec_id, e.v, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM ${prefix}e e, ${prefix}cents_$p c) WHERE rn = 1),
${prefix}means_$t AS (SELECT cent_id, j, CAST(sum(CAST(floor(v[j]*$QuantScale + 0.5) AS BIGINT)) AS DOUBLE) / (count(*)*$QuantScale) AS x FROM ${prefix}assign_$t, (SELECT unnest(range(1, ${dim + 1})) AS j) GROUP BY cent_id, j),
${prefix}cents_$t AS (SELECT c.cent_id, coalesce(m.cv, c.cv) AS cv, sqrt(${dotSql("coalesce(m.cv, c.cv)", "coalesce(m.cv, c.cv)")}) AS cnrm FROM ${prefix}cents_$p c LEFT JOIN (SELECT cent_id, list(x ORDER BY j ASC) AS cv FROM ${prefix}means_$t GROUP BY cent_id) m ON c.cent_id = m.cent_id)"""
    }
    sb.toString
  }
}
