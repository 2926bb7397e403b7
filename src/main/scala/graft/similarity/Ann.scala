package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions.call_function

/** Similarity search over an `array<float>` embedding column.
  *
  *  - `cosinePairs` / `bruteForceTopK`: exact baselines (all-pairs /
  *    query-cross-corpus). Correct at any scale but O(N·M) — the
  *    verification rung, never the production path.
  *  - `lshCosinePairs`: the scale path for thresholded near-dup pairs —
  *    multi-table random-hyperplane buckets generate candidates, exact
  *    cosine verifies them (the MinHash band→verify pattern on
  *    vectors). Shuffles ∝ candidate volume, not N².
  *  - `lshTopK`: approximate top-k via multi-probe LSH — corpus
  *    bucketed once, queries probe hamming-1 neighbors, exact re-rank
  *    within candidates.
  *  - `ivfTopK`: IVF with REAL k-means centroids ([[KMeans.fit]] —
  *    deterministic Lloyd's): assign → co-partition join on cluster →
  *    exact re-rank. The corpus shuffles once on cluster_id — at
  *    100 TB that's the partitioning you'd persist.
  *
  * All hashing is md5-derived (deterministic), and k-means is
  * engineered for bit-reproducibility, so every variant — including
  * the approximate ones — has a machine-generated DuckDB oracle that
  * replays bucketing/centroids exactly and hash-matches end to end.
  */
object Ann {

  /** Codegen'd native dot (graft.functions.DoubleDot) — registered per
    * session, bit-identical to VectorFunctions.dot. */
  private def nat(df: DataFrame)(a: Column, b: Column): Column = {
    graft.GraftExtensions.install(df.sparkSession)
    call_function("graft_dot", a, b)
  }

  /** Sentinel standing in for a NULL similarity inside the bounded
    * heap: cosines live in [−1, 1] (Cauchy–Schwarz), so −2 is strictly
    * below every real score and can never collide with one — heap
    * order (−2 ties → key asc) is exactly the window form's
    * `desc_nulls_last, vec_id asc`, and the sentinel is restored to
    * NULL on output. This is what makes the heap form's equivalence
    * to the window form UNCONDITIONAL (zero-norm vectors included),
    * not just "when every query has ≥ k non-null cosines". */
  private[similarity] val NullScore = -2.0

  /** The per-query candidate re-rank, in its ONLY scale-safe form: a
    * `bounded_top_k` partial+final aggregation over the scored
    * candidate stream ([[graft.functions.BoundedTopK]]). The window
    * formulation (`row_number() OVER (PARTITION BY query_id)`) buffers
    * an entire query group inside WindowExec, so per-task memory grows
    * with candidate volume — measured ~2 GB/task on the brute path at
    * 300k×64d and 0.7–3.6 GB of spill in the IVF-PQ ADC re-rank at the
    * 2M-vector rung; per-query candidates grow linearly with the
    * corpus (corpus/nCells × nProbe), so at 100 TB those groups are
    * unbounded. The heap form reduces every map slice to ≤2k
    * (score, id) pairs BEFORE the shuffle, total order
    * (score desc nulls last, vec_id asc) bit-identical to the window
    * form — every caller keeps its window-replay DuckDB oracle
    * unchanged, so the gates enforce the equivalence per query.
    *
    * Input: (query_id, vec_id, `scoreName`) — extra columns are
    * ignored (re-attach corpus attributes by broadcasting the ≤
    * k×|queries| head back onto the corpus scan, the retrievalMetrics
    * precedent). Output: (query_id, vec_id, `scoreName`, rk).
    *
    * CONTRACT (the sentinel's validity bounds — every current caller
    * passes a cosine, which satisfies both):
    *  - `scoreName` values must lie in (−2, +∞): a legitimate score of
    *    exactly [[NullScore]] (−2.0) would be silently rewritten to
    *    NULL on output, and scores below −2 would order ABOVE real
    *    NULLs instead of below them (the window form ranks NULLs
    *    last). A caller with an unbounded score must shift/rescale it
    *    into range first (or rank on its negation).
    *  - `vec_id` must be non-null: [[graft.functions.BoundedTopK]]
    *    drops null-key rows at insert, whereas the window form would
    *    rank them — the documented "unconditional" window equivalence
    *    assumes non-null ids (true for every caller: ids are key
    *    columns of their stores). */
  private[graft] def heapTopK(scored: DataFrame, k: Int,
      scoreName: String = "cosine"): DataFrame = {
    graft.GraftExtensions.install(scored.sparkSession)
    scored.groupBy(col("query_id"))
      .agg(expr(s"bounded_top_k(coalesce(`$scoreName`, ${NullScore}D), vec_id, $k)")
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("query_id"), col("t.key").as("vec_id"),
        when(col("t.score") === NullScore, lit(null).cast("double"))
          .otherwise(col("t.score")).as(scoreName),
        (col("p") + 1).cast("int").as("rk"))
  }

  /** All pairs (a < b) with cosine >= threshold. EXACT baseline: a
    * deliberate O(N²) theta join — use [[lshCosinePairs]] at scale. */
  def cosinePairs(emb: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.norm(vec).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        when(col("a.nrm") > 0 && col("b.nrm") > 0,
          nat(emb)(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact top-k neighbors (by cosine desc, id asc) for each query row;
    * self-matches excluded. */
  def bruteForceTopK(emb: DataFrame, id: Column, vec: Column,
      isQuery: Column, k: Int): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"), VectorFunctions.norm(vec).as("nrm"))
    val queries = emb.filter(isQuery).select(id.as("query_id"), vec.as("qv"),
      VectorFunctions.norm(vec).as("qnrm"))
    val scored = queries.join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc_nulls_last, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rk").cast("int").as("rk"))
  }

  /** Exact top-k as a bounded-heap partial+final aggregation — the
    * 100×-safe form of [[bruteForceTopK]]: the window form buffers an
    * entire query group (the whole corpus per query) inside
    * WindowExec, so per-task memory grows with N (measured ~2 GB/task
    * at 300k×64d); [[heapTopK]] reduces every map slice to ≤2k (score,
    * id) pairs BEFORE the shuffle ([[graft.functions.BoundedTopK]]),
    * so per-task memory is O(k·queries) at any corpus size and the
    * shuffle carries k rows per (partition, query), never the scored
    * corpus. Output and total order (cosine desc NULLS LAST, vec_id
    * asc — the null ranking via heapTopK's sub-range sentinel, so the
    * equivalence holds even for zero-norm vectors) are identical to
    * the window form — the registration shares its oracle, so the gate
    * enforces bit-equality between the two paths (the q_bm25_indexed
    * precedent). Queries broadcast (the probe head is dashboard-sized
    * by contract). */
  def bruteForceTopKHeap(emb: DataFrame, id: Column, vec: Column,
      isQuery: Column, k: Int): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.norm(vec).as("nrm"))
    val queries = emb.filter(isQuery).select(id.as("query_id"), vec.as("qv"),
      VectorFunctions.norm(vec).as("qnrm"))
    val scored = e.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    heapTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane i over `dim` dimensions:
    * component j = (md5Long("i:j") mod 2001 - 1000) / 1000 ∈ [-1, 1]. */
  private def hyperplane(i: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      (pmod(TextFunctions.md5Long(concat(lit(i.toString), lit(":"), j.cast(StringType))),
        lit(2001)) - 1000) / lit(1000.0))

  /** Sign-bucket of a vector under nPlanes hyperplanes, as a BIGINT.
    * `planeOffset` shifts the hyperplane family, giving independent
    * hash tables for multi-table LSH (table t uses planes
    * [t*nPlanes, (t+1)*nPlanes)). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, planeOffset: Int = 0): Column =
    (0 until nPlanes).foldLeft(lit(0L)) { (acc, i) =>
      acc + when(
        aggregate(zip_with(vec.cast("array<double>"), hyperplane(planeOffset + i, dim),
            (x, h) => x * h),
          lit(0.0), (a, x) => a + x) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }

  /** Thresholded cosine pairs WITHOUT the all-pairs join — the scale
    * path for embedding near-dup dedup, mirroring MinHash band→verify:
    *
    *  1. each vector gets one sign-bucket per hash table (nTables
    *     independent hyperplane families — map-only, no shuffle);
    *  2. candidates = distinct pairs sharing any (table, bucket) —
    *     the only joins, ∝ candidate volume;
    *  3. exact cosine verification keeps pairs >= threshold, so output
    *     ⊆ the exact [[cosinePairs]] result by construction.
    *
    * Recall/efficiency knob: P(pair at cosine c collides in one table)
    * = (1 - acos(c)/π)^nPlanes; missing all tables is (1-p)^nTables.
    * The defaults (2 planes × 8 tables) give >0.98 recall at c=0.45;
    * for a high-similarity dedup pass (c >= 0.8, the realistic
    * near-dup regime) raise nPlanes to 8–12 for far smaller buckets at
    * the same recall. */
  def lshCosinePairs(emb: DataFrame, id: Column, vec: Column, threshold: Double,
      dim: Int, nPlanes: Int = 2, nTables: Int = 8): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.norm(vec).as("nrm"),
      array((0 until nTables).map(t =>
        lshBucket(vec, dim, nPlanes, planeOffset = t * nPlanes)): _*).as("buckets"))
    val bucketed = e
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    // merge-hinted: both the bucket self-join sides (corpus×tables
    // rows) and the vector-fetch sides (corpus rows carrying the
    // embedding arrays) are corpus-proportional — a misestimated
    // broadcast would ship them through the driver (measured on the
    // MinHash twin of this shape; see MinHash.candidatePairs)
    val cands = bucketed.as("a").join(bucketed.as("b").hint("merge"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val vecs = e.select(col("vec_id"), col("v"), col("nrm"))
    cands
      .join(vecs.as("va").hint("merge"), col("id_a") === col("va.vec_id"))
      .join(vecs.as("vb").hint("merge"), col("id_b") === col("vb.vec_id"))
      .select(col("id_a"), col("id_b"),
        when(col("va.nrm") > 0 && col("vb.nrm") > 0,
          nat(emb)(col("va.v"), col("vb.v")) / (col("va.nrm") * col("vb.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Approximate top-k via MULTI-PROBE LSH: the corpus is bucketed once;
    * each query probes its own bucket plus every bucket at hamming
    * distance 1 (flip one plane's sign — the standard recall lever that
    * avoids building multiple hash tables). Candidates get an exact
    * cosine re-rank. The corpus side stays one row per vector — only
    * the (tiny) query side fans out nPlanes+1×. */
  def lshTopK(emb: DataFrame, id: Column, vec: Column, isQuery: Column,
      k: Int, dim: Int, nPlanes: Int = 8): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.norm(vec).as("nrm"), lshBucket(vec, dim, nPlanes).as("bucket"))
    val probes = (0 until nPlanes).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))
    val queries = emb.filter(isQuery).select(id.as("query_id"), vec.as("qv"),
      VectorFunctions.norm(vec).as("qnrm"), lshBucket(vec, dim, nPlanes).as("bucket0"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        explode(array(col("bucket0") +: probes: _*)).as("bucket"))
    // corpus-side pin (the ann_recall_lsh rung caught this live: at a
    // 300k-vector probe Catalyst's estimate under the projection chain
    // broadcast the CORPUS side — ~40 MB of vectors collected through
    // the driver, the OOM shape at real scale; at 2M it flipped to
    // sort-merge on its own, i.e. the plan was scale-DEPENDENT)
    val scored = queries.join(graft.ops.Joins.corpusSide(e), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    // candidate re-rank as the bounded heap, never a window: per-query
    // candidate volume grows with the corpus (bucket population), so a
    // WindowExec group here is unbounded at scale — see [[heapTopK]]
    heapTopK(scored, k)
  }

  /** Hard-negative mining for contrastive embedding training (the
    * ANCE/DPR curation step): for each query vector, the top-k
    * most-similar corpus vectors whose `label` DIFFERS from the
    * query's — semantically close but known-non-matching, the examples
    * a contrastive loss learns most from. Candidate generation rides
    * the same multi-probe LSH as [[lshTopK]] (corpus bucketed once —
    * one row per vector, no all-pairs join; queries fan out over
    * hamming-1 probes); the label mismatch is a filter on the candidate
    * stream before the exact cosine re-rank, so mining cost tracks
    * candidate volume, not corpus². */
  def hardNegatives(emb: DataFrame, id: Column, vec: Column, label: Column,
      isQuery: Column, k: Int, dim: Int, nPlanes: Int = 8): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"), label.as("neg_label"),
      VectorFunctions.norm(vec).as("nrm"), lshBucket(vec, dim, nPlanes).as("bucket"))
    val probes = (0 until nPlanes).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))
    val queries = emb.filter(isQuery).select(id.as("query_id"), vec.as("qv"),
      label.as("qlbl"), VectorFunctions.norm(vec).as("qnrm"),
      lshBucket(vec, dim, nPlanes).as("bucket0"))
      .select(col("query_id"), col("qv"), col("qlbl"), col("qnrm"),
        explode(array(col("bucket0") +: probes: _*)).as("bucket"))
    // corpus-side pin (the ann_recall_lsh rung caught this live: at a
    // 300k-vector probe Catalyst's estimate under the projection chain
    // broadcast the CORPUS side — ~40 MB of vectors collected through
    // the driver, the OOM shape at real scale; at 2M it flipped to
    // sort-merge on its own, i.e. the plan was scale-DEPENDENT)
    val scored = queries.join(graft.ops.Joins.corpusSide(e), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id") && col("neg_label") =!= col("qlbl"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    // bounded-heap re-rank ([[heapTopK]] — no WindowExec over the
    // candidate stream); the mined label rides back in by BROADCASTING
    // the ≤ k×|queries| head onto the corpus scan — merge-joining it
    // against corpus-sized labels would shuffle the corpus to serve a
    // handful of rows (the retrievalMetrics head-join precedent)
    e.select(col("vec_id"), col("neg_label"))
      .join(broadcast(heapTopK(scored, k)), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("neg_label"), col("cosine"),
        col("rk"))
  }

  /** kNN majority-vote classification over the embedding space — the
    * label-propagation rung of a curation pipeline (silver-label
    * generation from an annotated seed set, label-quality audit of an
    * existing one). Candidates ride the same multi-probe LSH stream as
    * [[lshTopK]]; the top-k neighbors (exact cosine within candidates,
    * vec_id tiebreak) each cast one vote; the prediction is the
    * (votes desc, label asc) winner — a total integer order, so the
    * oracle replays the election exactly. One row per query that found
    * any candidate: (query_id, true_label, pred_label, votes, correct).
    *
    * Scale: corpus buckets once (map-only); shuffle tracks candidate
    * volume (queries × probed-bucket sizes), never corpus²; the top-k
    * runs as the bounded heap ([[heapTopK]] — no WindowExec group ever
    * holds a query's candidate stream), neighbor labels ride back in by
    * broadcasting the ≤ k×|queries| head onto the corpus scan, and the
    * election is a pure map-side-combinable min(struct) aggregate
    * ((−votes, label) ascending == (votes desc, label asc)) — no
    * window anywhere in the plan. */
  def knnClassify(emb: DataFrame, id: Column, vec: Column, label: Column,
      isQuery: Column, k: Int, dim: Int, nPlanes: Int = 8): DataFrame = {
    val e = emb.select(id.as("vec_id"), vec.as("v"), label.as("nbr_label"),
      VectorFunctions.norm(vec).as("nrm"), lshBucket(vec, dim, nPlanes).as("bucket"))
    val probes = (0 until nPlanes).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))
    val queries = emb.filter(isQuery).select(id.as("query_id"), vec.as("qv"),
      label.as("true_label"), VectorFunctions.norm(vec).as("qnrm"),
      lshBucket(vec, dim, nPlanes).as("bucket0"))
      .select(col("query_id"), col("true_label"), col("qv"), col("qnrm"),
        explode(array(col("bucket0") +: probes: _*)).as("bucket"))
    // corpus-side pin (the ann_recall_lsh rung caught this live: at a
    // 300k-vector probe Catalyst's estimate under the projection chain
    // broadcast the CORPUS side — ~40 MB of vectors collected through
    // the driver, the OOM shape at real scale; at 2M it flipped to
    // sort-merge on its own, i.e. the plan was scale-DEPENDENT)
    val scored = queries.join(graft.ops.Joins.corpusSide(e), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    // bounded-heap top-k, neighbor labels broadcast-joined back from
    // the corpus (see [[hardNegatives]] for the head-join rationale)
    val topk = e.select(col("vec_id"), col("nbr_label"))
      .join(broadcast(heapTopK(scored, k)), Seq("vec_id"))
    val votes = topk.groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
    // the election as an aggregate, not a window: min of the struct
    // (−votes, label) is the (votes desc, label asc) winner — a total
    // order, replayed exactly by the oracle's row_number election
    val elected = votes.groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("nbr_label").as("lbl")))
        .as("w"))
    val qlbl = emb.filter(isQuery)
      .select(id.as("query_id"), label.as("true_label"))
    elected.join(broadcast(qlbl), Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("w.lbl").as("pred_label"), (-col("w.nv")).as("votes"),
        (col("w.lbl") === col("true_label")).as("correct"))
  }

  /** IVF (inverted-file) approximate top-k with REAL trained centroids:
    * [[KMeans.fit]] runs deterministic Lloyd's iterations, corpus
    * vectors are assigned to their nearest centroid, queries probe
    * their nProbe nearest centroids' partitions and re-rank exactly
    * within them. Centroids broadcast (k rows); the corpus shuffles
    * once on cluster_id — at 100 TB that's the partitioning you'd
    * persist as the index. */
  def ivfTopK(emb: DataFrame, id: Column, vec: Column, isQuery: Column,
      k: Int, nCentroids: Int = 16, nProbe: Int = 2, kmeansIters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, id, vec, nCentroids, kmeansIters))
    val corpus = KMeans.assign(
      emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
        VectorFunctions.norm(vec).as("nrm")),
      cents, probes = 1)
    val queries = KMeans.assign(
      emb.filter(isQuery).select(id.as("query_id"), vec.cast("array<double>").as("qv"),
        VectorFunctions.norm(vec).as("qnrm")),
      cents, probes = nProbe, idCol = "query_id", vCol = "qv", nCol = "qnrm")
    val scored = queries.join(corpus, Seq("cent_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          nat(emb)(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cosine"))
    // per-query candidates are corpus/nCells × nProbe rows — linear in
    // the corpus, so the re-rank must be the bounded heap, never a
    // WindowExec group (see [[heapTopK]])
    heapTopK(scored, k)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via k-means
    * clustering + WITHIN-CLUSTER cosine near-dup. Every vector is
    * assigned to its nearest trained centroid ([[KMeans.fit]] —
    * deterministic Lloyd's); pairs are generated only inside a cluster
    * (the self-join key is cent_id, so the shuffle and the pair volume
    * are bounded by cluster sizes — the paper's trick for avoiding the
    * all-pairs O(N²) of [[cosinePairs]] at web scale); a vector is
    * dropped when a LOWER-id vector in its cluster sits within the
    * cosine threshold (keep-lowest-id is the deterministic stand-in for
    * the paper's keep-farthest-from-centroid tie-break). Output:
    * (vec_id, cent_id, keep) for the whole corpus. */
  def semDedup(emb: DataFrame, id: Column, vec: Column, threshold: Double,
      nCentroids: Int = 16, kmeansIters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, id, vec, nCentroids, kmeansIters))
    val corpus = KMeans.assign(
      emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
        VectorFunctions.norm(vec).as("nrm")),
      cents, probes = 1)
    // merge-hinted: both sides carry corpus rows with embedding arrays
    val pairs = corpus.as("a").join(corpus.as("b").hint("merge"),
        col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("id_b"),
        when(col("a.nrm") > 0 && col("b.nrm") > 0,
          nat(emb)(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    val dropped = pairs.select(col("id_b").as("vec_id")).distinct()
      .withColumn("__drop", lit(true))
    corpus.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("__drop").isNull.as("keep"))
  }

  /** Prototypicality pruning (the SSL-prototypes data-pruning recipe of
    * Sorscher et al. 2022, and SemDeDup's sibling): cluster the
    * embeddings with deterministic k-means, score every point by cosine
    * to its own centroid, and within each cluster DROP the most
    * prototypical (centroid-closest) `1 − keepFraction` of points —
    * keeping the hard/informative examples. Cosines quantize to exact
    * micro-units so both engines rank the identical total order
    * (vec_id tiebreak).
    *
    * Scale: same shape as [[semDedup]] for clustering — centroids are
    * the only driver-side state (k×dim doubles), the corpus shuffles
    * once on cluster id. The within-cluster rank does NOT run as a
    * per-cluster window: a cluster holds ~corpus/k rows, so a
    * WindowExec group there grows with the corpus (the exact hazard
    * the round-14 heap migration killed in the top-k paths — but this
    * operator ranks EVERY row, so the rank is a [[graft.ops.Prefix]]
    * running count instead: in-(cluster × cos-bucket) windows whose
    * groups are bounded by the 10k-µ bucket population, plus a
    * ≤201-row-per-cluster bucket carry, bit-identical to the global
    * window by bucket monotonicity; buckets run in descending cosine
    * order, so the bucket is negated). NULL cosines ride the usual below-range sentinel,
    * preserving the desc_nulls_last order exactly.
    *
    * BOUND CAVEAT (data-dependent, not unconditional): the in-bucket
    * group is bounded by the 10k-µ BUCKET POPULATION, which is a
    * distributional statement, not a hard cap — a cluster of
    * near-identical vectors (exactly the near-duplicate regime this
    * pruning targets) concentrates its centroid-cosines into a few µ
    * values and can land most of the cluster in ONE bucket, degrading
    * that group back toward the whole-cluster window (correct, but
    * with the spill profile the bucketing exists to avoid). The cap
    * cannot be made unconditional within this decomposition: the rank
    * order is (cos desc, vec_id asc), so any sub-bucket key must be
    * order-consistent with it — a cosine-derived sub-key inherits the
    * same degeneracy (equal cosines stay together) and an id-derived
    * one interleaves across distinct cosines, which breaks the carry's
    * additivity; bounding it for real needs a log-depth prefix-sum
    * tree, unwarranted while the upstream exact/near dedup keeps
    * identical-vector mass bounded. Mitigation when it bites: shrink
    * `bw` (splits distinct-but-close cosines; only EXACTLY equal
    * µ-cosines are irreducible), or exact-dedup vectors first. */
  def protoPrune(emb: DataFrame, id: Column, vec: Column, keepFraction: Double,
      nCentroids: Int = 16, kmeansIters: Int = 5): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1)
    val spark = emb.sparkSession
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, id, vec, nCentroids, kmeansIters))
    val corpus = KMeans.assign(
      emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
        VectorFunctions.norm(vec).as("nrm")),
      cents, probes = 1)
    val scored = corpus.join(broadcast(cents), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        when(col("nrm") > 0 && col("cnrm") > 0,
          floor(nat(emb)(col("v"), col("cv")) / (col("nrm") * col("cnrm"))
            * lit(1000000.0) + lit(0.5)).cast("long")).as("cos_micros"))
    // sort key with the NULLS-LAST sentinel (cos_micros ∈ [−1e6, 1e6],
    // so −2e6 sits strictly below every real value), bucketed at 10k µ
    // — floor division via the nonnegative pmod, exact for negatives —
    // and negated so buckets ascend along the (cos desc) rank order.
    // Prefix's shared exchange keeps the scored subtree (corpus scan +
    // assignment + centroid cosine) to one pass, and its per-key
    // total `rk_total` is the cluster size.
    val bw = 10000L
    val keyed = scored
      .withColumn("__sk", coalesce(col("cos_micros"), lit(-2000000L)))
      .withColumn("__cb",
        -((col("__sk") - pmod(col("__sk"), lit(bw))) / lit(bw)).cast("long"))
    graft.ops.Prefix.running(keyed, Seq("cent_id"), "__cb",
        Seq(col("__sk").desc, col("vec_id").asc), Seq("rk" -> lit(1L)),
        graft.ops.Prefix.Sum, graft.ops.Prefix.InclusiveRows)
      .select(col("vec_id"), col("cent_id"), col("cos_micros"),
        col("rk").cast("int").as("rk"),
        (col("rk") > floor((lit(1.0) - lit(keepFraction)) * col("rk_total"))).as("keep"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** Shared dot/norm fragments: sequential-order double sums, matching
    * VectorFunctions bit-for-bit (validated: DuckDB list_sum is a left
    * fold like Spark's aggregate). */
  private def dotSql(a: String, b: String): String =
    s"list_sum([$a[i]*$b[i] FOR i IN range(1, len($a)+1)])"
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** DuckDB replica of [[lshBucket]] on a DOUBLE[] column `v`: per
    * plane, the dot against the md5-derived hyperplane (same left-fold
    * order), sign-tested into bit i. */
  private def lshBucketSql(v: String, dim: Int, nPlanes: Int, planeOffset: Int = 0): String =
    (0 until nPlanes).map { b =>
      val p = planeOffset + b
      s"(CASE WHEN list_sum([$v[j]*((CAST('0x'||substring(md5('$p:'||CAST(j-1 AS VARCHAR)),1,15) AS BIGINT) % 2001 - 1000)/1000.0) FOR j IN range(1, ${dim + 1})]) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  def cosinePairsOracle(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings)
SELECT id_a, id_b, cosine FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) END AS cosine FROM e a JOIN e b ON a.vec_id < b.vec_id) WHERE cosine >= $threshold"""

  def bruteForceTopKOracle(queryPred: String, k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE $queryPred),
scored AS (SELECT query_id, vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM q JOIN e ON query_id <> vec_id)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k"""

  /** DuckDB SQL replaying [[lshTopK]] exactly: same md5 hyperplanes,
    * same buckets, same hamming-1 probes, same re-rank. */
  def lshTopKOracle(queryPred: String, k: Int, dim: Int, nPlanes: Int): String = {
    val probeList = ("bucket0" +: (0 until nPlanes).map(i => s"xor(bucket0, ${1L << i})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
b AS (SELECT vec_id, v, nrm, ${lshBucketSql("v", dim, nPlanes)} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, qv, qnrm, unnest([$probeList]) AS bucket FROM (SELECT vec_id, v AS qv, nrm AS qnrm, bucket AS bucket0 FROM b WHERE $queryPred)),
scored AS (SELECT query_id, b.vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM q JOIN b ON q.bucket = b.bucket WHERE query_id <> b.vec_id)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k"""
  }

  /** DuckDB SQL replaying [[hardNegatives]] exactly: the [[lshTopKOracle]]
    * probe replay plus the label-mismatch filter on the candidate stream. */
  def hardNegativesOracle(queryPred: String, k: Int, dim: Int, nPlanes: Int): String = {
    val probeList = ("bucket0" +: (0 until nPlanes).map(i => s"xor(bucket0, ${1L << i})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
b AS (SELECT vec_id, label, v, nrm, ${lshBucketSql("v", dim, nPlanes)} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, qlbl, qv, qnrm, unnest([$probeList]) AS bucket FROM (SELECT vec_id, label AS qlbl, v AS qv, nrm AS qnrm, bucket AS bucket0 FROM b WHERE $queryPred)),
scored AS (SELECT query_id, b.vec_id, b.label AS neg_label, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM q JOIN b ON q.bucket = b.bucket WHERE query_id <> b.vec_id AND b.label <> qlbl)
SELECT query_id, vec_id, neg_label, cosine, CAST(rk AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k"""
  }

  /** DuckDB SQL replaying [[knnClassify]] exactly: the [[lshTopKOracle]]
    * probe replay, then the per-query vote count and the
    * (votes desc, label asc) election. */
  def knnClassifyOracle(queryPred: String, k: Int, dim: Int, nPlanes: Int): String = {
    val probeList = ("bucket0" +: (0 until nPlanes).map(i => s"xor(bucket0, ${1L << i})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
b AS (SELECT vec_id, label, v, nrm, ${lshBucketSql("v", dim, nPlanes)} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, tlbl, qv, qnrm, unnest([$probeList]) AS bucket FROM (SELECT vec_id, label AS tlbl, v AS qv, nrm AS qnrm, bucket AS bucket0 FROM b WHERE $queryPred)),
scored AS (SELECT query_id, tlbl, b.vec_id, b.label AS nbr_label, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM q JOIN b ON q.bucket = b.bucket WHERE query_id <> b.vec_id),
topk AS (SELECT query_id, tlbl, nbr_label FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k),
votes AS (SELECT query_id, tlbl, nbr_label, CAST(count(*) AS BIGINT) AS votes FROM topk GROUP BY 1, 2, 3)
SELECT query_id, tlbl AS true_label, nbr_label AS pred_label, votes, (nbr_label = tlbl) AS correct FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nbr_label ASC) AS vr FROM votes) WHERE vr = 1"""
  }

  /** DuckDB SQL replaying [[lshCosinePairs]] exactly: one bucket CTE
    * per hash table (UNION ALL), distinct same-bucket candidates,
    * exact cosine verify. */
  def lshCosinePairsOracle(threshold: Double, dim: Int,
      nPlanes: Int = 2, nTables: Int = 8): String = {
    val tables = (0 until nTables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${lshBucketSql("v", dim, nPlanes, t * nPlanes)} AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, ${normSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
b AS ($tables),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, cosine FROM (SELECT id_a, id_b, CASE WHEN ea.nrm > 0 AND eb.nrm > 0 THEN ${dotSql("ea.v", "eb.v")} / (ea.nrm * eb.nrm) END AS cosine FROM cand JOIN e ea ON id_a = ea.vec_id JOIN e eb ON id_b = eb.vec_id) WHERE cosine >= $threshold"""
  }

  /** DuckDB SQL replaying [[semDedup]] exactly — k-means fit, corpus
    * assignment, within-cluster pairs, keep-lowest-id drop rule. */
  def semDedupOracle(threshold: Double, nCentroids: Int, kmeansIters: Int,
      dim: Int): String = {
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    s"""${KMeans.oracleCtes(nCentroids, kmeansIters, dim)},
corpus AS (SELECT vec_id, v, nrm, cent_id FROM (SELECT e.vec_id, e.v, e.nrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, cents_$kmeansIters c) WHERE rn = 1),
pairs AS (SELECT b.vec_id AS id_b, CASE WHEN a.nrm > 0 AND b.nrm > 0 THEN ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) END AS cosine FROM corpus a JOIN corpus b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
drp AS (SELECT DISTINCT id_b AS vec_id FROM pairs WHERE cosine >= $threshold)
SELECT c.vec_id, c.cent_id, (d.vec_id IS NULL) AS keep FROM corpus c LEFT JOIN drp d ON c.vec_id = d.vec_id"""
  }

  /** DuckDB replica of [[protoPrune]] — replays the k-means fit
    * ([[KMeans.oracleCtes]]), probes=1 assignment, centroid-cosine
    * quantization, and the within-cluster rank. */
  def protoPruneOracle(keepFraction: Double, nCentroids: Int, kmeansIters: Int,
      dim: Int): String = {
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    s"""${KMeans.oracleCtes(nCentroids, kmeansIters, dim)},
corpus AS (SELECT vec_id, v, nrm, cent_id FROM (SELECT e.vec_id, e.v, e.nrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, cents_$kmeansIters c) WHERE rn = 1),
sc AS (SELECT p.vec_id, p.cent_id, CASE WHEN p.nrm > 0 AND c.cnrm > 0 THEN CAST(floor(${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) * 1000000.0 + 0.5) AS BIGINT) END AS cos_micros FROM corpus p JOIN cents_$kmeansIters c ON p.cent_id = c.cent_id),
rkd AS (SELECT vec_id, cent_id, cos_micros, CAST(row_number() OVER (PARTITION BY cent_id ORDER BY cos_micros DESC NULLS LAST, vec_id ASC) AS INTEGER) AS rk, count(*) OVER (PARTITION BY cent_id) AS n_c FROM sc)
SELECT vec_id, cent_id, cos_micros, rk, (rk > floor((1.0 - $keepFraction) * n_c)) AS keep FROM rkd"""
  }

  /** DuckDB SQL replaying [[ivfTopK]] exactly — including the whole
    * k-means fit ([[KMeans.oracleCtes]]): final centroids → corpus
    * assignment (probes=1) → query assignment (probes=nProbe) →
    * co-cluster join → exact re-rank. */
  def ivfTopKOracle(queryPred: String, k: Int, nCentroids: Int, nProbe: Int,
      kmeansIters: Int, dim: Int,
      vecSql: String = "CAST(embedding AS DOUBLE[])",
      fromSql: String = "embeddings",
      preCtes: String = ""): String = {
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    val kctes = KMeans.ctes(nCentroids, kmeansIters, dim,
      vecSql = vecSql, fromSql = fromSql)
    val withClause =
      if (preCtes.isEmpty) s"WITH $kctes" else s"WITH $preCtes,\n$kctes"
    s"""$withClause,
corpus AS (SELECT vec_id, v, nrm, cent_id FROM (SELECT e.vec_id, e.v, e.nrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, cents_$kmeansIters c) WHERE rn = 1),
queries AS (SELECT query_id, qv, qnrm, cent_id FROM (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qnrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, cents_$kmeansIters c WHERE $queryPred) WHERE rn <= $nProbe),
scored AS (SELECT query_id, corpus.vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM queries JOIN corpus ON queries.cent_id = corpus.cent_id WHERE query_id <> corpus.vec_id)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k"""
  }
}
