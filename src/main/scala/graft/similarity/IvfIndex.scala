package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.ops.Joins
import graft.sinks.SnapshotStore

/** Incremental IVF serving index — the ANN family joins the
  * batch-trained / stream-served / version-stamped refresh loop every
  * other serving index already has (Bm25Index's incremental postings,
  * the MinHash band index, [[graft.ops.UnigramTok]]'s vocab refresh):
  *
  *  - [[publish]] trains centroids on a BUDGETED deterministic sample
  *    (the `budget` vectors with the smallest md5(vec_id) — k-means
  *    quality needs a sample, not the corpus; the budget caps the
  *    train cost regardless of corpus size) and commits them to a
  *    [[SnapshotStore]] stamped with a model version. The commit is an
  *    atomic manifest swap: a streaming job re-reading the store each
  *    micro-batch swaps models WITHOUT restart, and prior versions
  *    stay RESTORE-able.
  *  - [[maintainCells]] keeps the corpus→cell assignment store caught
  *    up INCREMENTALLY: while the model version is unchanged, only
  *    vectors with no cell row yet (the new arrivals) are assigned and
  *    appended — a batch pays assignment for its own rows only; when a
  *    new model version has been published, the whole corpus
  *    re-assigns once (cells are meaningless across centroid
  *    generations) and the store is atomically replaced.
  *  - [[topK]] serves queries from the STORES: query vectors assign to
  *    their nProbe nearest published centroids, candidates come from
  *    the cell store (the persisted partitioning a 100 TB deployment
  *    would keep the corpus physically clustered by), exact cosine
  *    re-ranks within probed cells.
  *
  * Scale: training collects only k×dim centroid doubles per iteration
  * over a ≤budget sample; maintenance shuffles only the NEW vectors
  * while the model holds; the cell store joins the corpus corpus-side
  * (never broadcast). Everything is md5-deterministic, so the DuckDB
  * oracle ([[refreshOracleSql]]) replays sample → fit → assignment →
  * probe bit-for-bit.
  */
object IvfIndex {

  /** The deterministic training sample: `budget` vectors with the
    * smallest md5Long(vec_id) (hash order — order-free, replayable,
    * and uncorrelated with ingest order). TakeOrdered: bounded by the
    * budget, never a global sort. */
  def sample(emb: DataFrame, id: Column, vec: Column, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    emb.select(id.as("vec_id"), vec.as("embedding"),
        TextFunctions.md5Long(id.cast("string")).as("__h"))
      .orderBy(col("__h").asc, col("vec_id").asc).limit(budget)
      .drop("__h")
  }

  /** Train on the budgeted sample and version-stamp the centroids into
    * the store (atomic swap — see object doc).
    *
    * r15: the Lloyd's loop runs DRIVER-LOCAL ([[KMeans.fitLocal]] —
    * byte-equal to the distributed [[KMeans.fit]], KMeansSpec-pinned):
    * the sample is ≤ `budget` rows BY CONSTRUCTION (the same bounded
    * driver state the old fit's init collect already pulled), so the
    * distributed loop's 2 Spark jobs per iteration (×iters ×publishes
    * in the refresh loop) were pure scheduling overhead at every
    * corpus size — the budget, not the corpus, caps this collect. The
    * corpus-scale [[KMeans.fit]] callers (Ann.ivfTopK etc.) keep the
    * distributed loop. */
  def publish(spark: SparkSession, centBase: String, emb: DataFrame,
      id: Column, vec: Column, version: Long, nCentroids: Int = 16,
      iters: Int = 5, budget: Int = 200): Unit = {
    val vecs = sample(emb, id, vec, budget)
      .select(col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => if (r.isNullAt(0)) Array.empty[Double]
                else r.getSeq[Double](0).toArray)
    val cents = KMeans.fitLocal(vecs, nCentroids, iters)
    SnapshotStore.commitReplace(spark, centBase,
      KMeans.centroidFrame(spark, cents).withColumn("version", lit(version)))
  }

  /** The currently-published (version, centroids(cent_id, cv, cnrm)) —
    * None before the first [[publish]]. A store that exists but holds
    * ZERO rows (e.g. a commitReplace over an empty corpus) has a NULL
    * max(version) and counts as no store — the isNullAt guard keeps
    * that from surfacing as an NPE on the next serve/maintain call. */
  def current(spark: SparkSession, centBase: String): Option[(Long, DataFrame)] =
    SnapshotStore.read(spark, centBase).flatMap { df =>
      val head = df.agg(max(col("version"))).head
      if (head.isNullAt(0)) None else Some((head.getLong(0), df.drop("version")))
    }

  /** Catch the cell store up to the corpus under the CURRENT model.
    * Incremental while the model version matches the store's (only
    * unassigned vectors are assigned + appended); a version change
    * triggers the one full re-assign the new centroids require.
    * Returns the number of vectors (re)assigned this call. */
  def maintainCells(spark: SparkSession, cellBase: String, centBase: String,
      emb: DataFrame, id: Column, vec: Column): Long = {
    val (v, cents) = current(spark, centBase)
      .getOrElse(sys.error(s"no published centroids at $centBase"))
    val e = emb.select(id.as("vec_id"), vec.cast("array<double>").as("v"),
      VectorFunctions.norm(vec).as("nrm"))
    val existing = SnapshotStore.read(spark, cellBase)
    val sameModel = existing.exists { df =>
      // an EMPTY cell store has a NULL max — treat it as no store
      // (full assign under the current model), never an NPE
      val head = df.agg(max(col("model_version"))).head
      !head.isNullAt(0) && head.getLong(0) == v
    }
    val todo =
      if (sameModel)
        e.join(existing.get.filter(col("model_version") === v)
          .select(col("vec_id")), Seq("vec_id"), "left_anti")
      else e
    // r15 (guide §5): the count and the commit used to force the
    // assignment TWICE — once into a persist(DISK_ONLY) cache for
    // count(), once into the committed parquet. The counted-commit
    // path materializes it exactly once (the parquet write) and reads
    // the row count from the staged files' footers — driver-side
    // metadata, no second pass, no cache to manage; at 100 TB this
    // halves the refresh loop's assignment IO. A zero-row append
    // commits nothing, exactly like the old `if (n > 0)` guard.
    val assigned = KMeans.assign(todo, cents, probes = 1)
      .select(col("vec_id"), col("cent_id"), lit(v).as("model_version"))
    if (sameModel) SnapshotStore.commitAppendCounted(spark, cellBase, assigned)
    else SnapshotStore.commitReplaceCounted(spark, cellBase, assigned)
  }

  /** Serve exact-re-ranked top-k from the published model + cell
    * store: (query_id, vec_id, cosine, rk, model_version). */
  def topK(spark: SparkSession, cellBase: String, centBase: String,
      emb: DataFrame, id: Column, vec: Column, isQuery: Column, k: Int,
      nProbe: Int = 2): DataFrame = {
    graft.GraftExtensions.install(spark)
    val (v, cents) = current(spark, centBase)
      .getOrElse(sys.error(s"no published centroids at $centBase"))
    val cells = SnapshotStore.read(spark, cellBase)
      .getOrElse(sys.error(s"no cell store at $cellBase"))
      .filter(col("model_version") === v)
      .select(col("vec_id"), col("cent_id"))
    val corpus = emb.select(id.as("vec_id"),
        vec.cast("array<double>").as("v"), VectorFunctions.norm(vec).as("nrm"))
      .join(Joins.corpusSide(cells), Seq("vec_id"))
    val queries = KMeans.assign(
      emb.filter(isQuery).select(id.as("query_id"),
        vec.cast("array<double>").as("qv"), VectorFunctions.norm(vec).as("qnrm")),
      cents, probes = nProbe, idCol = "query_id", vCol = "qv", nCol = "qnrm")
    val scored = queries.join(corpus, Seq("cent_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          call_function("graft_dot", col("qv"), col("v")) /
            (col("qnrm") * col("nrm"))).as("cosine"))
    // serving re-rank = bounded heap (probed cells are corpus/nCells ×
    // nProbe rows per query — a WindowExec group would grow with the
    // corpus; see [[Ann.heapTopK]])
    Ann.heapTopK(scored, k).withColumn("model_version", lit(v))
  }

  /** DuckDB replica of the refresh loop's FINAL state over
    * `embeddings`: budgeted hash-order sample → k-means fit (replayed
    * bit-for-bit via [[KMeans.ctes]]) → full-corpus assignment →
    * nProbe query probe → exact re-rank. Mid-loop versions don't
    * reach the final state (the version bump re-assigns everything),
    * which is exactly the batch-parity claim the gate checks;
    * mid-stream serving is covered engine-side by StreamingSpec. */
  def refreshOracleSql(queryPred: String, k: Int, nCentroids: Int = 16,
      nProbe: Int = 2, iters: Int = 5, budget: Int = 200,
      dim: Int = 64, finalVersion: Long = 2L): String = {
    val dot = (a: String, b: String) =>
      s"list_sum([$a[i]*$b[i] FOR i IN range(1, len($a)+1)])"
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${dot("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    val sampCte =
      s"""samp AS (SELECT vec_id, embedding FROM embeddings ORDER BY CAST('0x'||substring(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT) ASC, vec_id ASC LIMIT $budget)"""
    val kctes = KMeans.ctes(nCentroids, iters, dim, prefix = "s",
      fromSql = "samp")
    s"""WITH $sampCte,
$kctes,
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt(${dot("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS nrm FROM embeddings),
corpus AS (SELECT vec_id, v, nrm, cent_id FROM (SELECT e.vec_id, e.v, e.nrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, scents_$iters c) WHERE rn = 1),
queries AS (SELECT query_id, qv, qnrm, cent_id FROM (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qnrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, scents_$iters c WHERE $queryPred) WHERE rn <= $nProbe),
scored AS (SELECT query_id, corpus.vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${dot("qv", "v")} / (qnrm * nrm) END AS cosine FROM queries JOIN corpus ON queries.cent_id = corpus.cent_id WHERE query_id <> corpus.vec_id)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk, CAST($finalVersion AS BIGINT) AS model_version FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= $k"""
  }
}
