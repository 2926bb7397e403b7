package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 ranked retrieval over the document corpus — the text-side
  * sibling of the embedding ANN rung: given a bag of query terms, score
  * every document with the Lucene-form BM25
  * (idf = ln(1 + (N - df + 0.5)/(df + 0.5))) and return the global
  * top-k.
  *
  * Scale design: corpus statistics (N, sum-of-lengths, per-term
  * document frequencies) reduce in ONE partial+final aggregate pass to
  * a single row that broadcasts back over the corpus; term frequencies
  * are per-row array ops. So the whole query is: one map-reduce over
  * the corpus for stats, one map for scores, and a
  * TakeOrderedAndProject for the top-k — no shuffle of the corpus
  * itself, no inverted-index materialization (which would be a
  * separate, amortizable build). That is the plan you want at 100 TB
  * for a fixed (small) term set.
  *
  * Determinism: avgdl is computed as exact-BIGINT sum(dl)/count (NOT
  * avg(), whose accumulation order is engine-dependent), every double
  * op after that is IEEE-identical across engines, terms sum in fixed
  * left-to-right order, and the final score is floor-rounded at 4
  * decimals (same portable form as [[Corpus.repetitionRatio]]) so the
  * DuckDB oracle hash-matches despite libm ln differing in the last
  * ulp. Ties rank by doc_id, making the limit total-ordered.
  */
object Retrieval {

  /** Top-k documents by BM25 score for `terms`. Output: (doc_id,
    * score, rank) with rank 1..k by (score desc, doc_id asc). */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val (scored, termScore) = bm25Scored(tokenized(docs, id, text), terms, k1, b)
    val score = terms.map(termScore).reduce(_ + _)
    scored
      .select(col("doc_id"),
        (floor(score * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** DuckDB replica of [[bm25TopK]] over table `documents` — same
    * formula shape, same fixed term order, same floor-4 rounding. */
  def bm25OracleSql(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 10): String = {
    val dfExprs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(", ")
    val termExprs = terms.zipWithIndex.map { case (t, i) =>
      s"""(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5)) * (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * ${k1 + 1.0}) / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)))"""
    }.mkString(" + ")
    raw"""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfExprs FROM base),
scored AS (SELECT doc_id, floor(($termExprs) * 10000.0 + 0.5) / 10000.0 AS score FROM base, (SELECT *, CAST(sum_dl AS DOUBLE) / n AS avgdl FROM stats))
SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM scored ORDER BY score DESC, doc_id ASC LIMIT $k"""
  }

  /** Per-document top-k salient terms (keyword extraction for corpus
    * exploration / near-dup explanation): rank a document's terms by
    * (tf DESC, df ASC, term ASC) — a TOTAL INTEGER order both engines
    * replay exactly, immune to the last-ulp ln() rank flips a
    * float-ordered tf-idf rank would risk — and carry the conventional
    * tf·ln(N/df) weight as a floor-4 payload column.
    *
    * Plan: term frequencies are computed INSIDE each row (distinct-term
    * HOF over the token array — tf is a per-document quantity, so it
    * never needs a shuffle; a naive groupBy(doc, term) formulation has
    * group cardinality ≈ corpus tokens, and the 100×-scale probe
    * measured its hash-aggregate spilling 28-31 GB because text
    * amplifies ~10× into (doc,term) rows however the input is split) →
    * per-term document frequency (vocabulary-bounded hash aggregate) →
    * tf⋈df shuffle-hash join on term (vocabulary-sized build side,
    * hinted: sort-merge would sort the doc×term relation; hot terms are
    * AQE skew-split territory) → N broadcast → per-doc window top-k
    * (WindowGroupLimit prunes to k per doc map-side before the
    * exchange). No driver state, no global sort.
    * Output: (doc_id, rank, term, tf, df, tfidf). */
  def tfIdfTopTerms(docs: DataFrame, id: Column, text: Column,
      k: Int = 3): DataFrame = {
    val tf = docs.select(id.as("doc_id"),
        explode(TextFunctions.bindOnce(TextFunctions.tokens(lower(text))) {
          toks =>
            transform(array_distinct(toks), t =>
              struct(t.as("term"),
                size(filter(toks, x => x === t)).cast("long").as("tf")))
        }).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(Joins.corpusSide(dfT), Seq("term")).crossJoin(broadcast(n))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        (floor(col("tf").cast("double")
            * log(col("n_docs").cast("double") / col("df").cast("double"))
            * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("tfidf"))
  }

  /** Hybrid sparse+dense retrieval with Reciprocal Rank Fusion — the
    * standard production RAG pattern (lexical BM25 catches exact
    * terms, the embedding ranking catches paraphrase; RRF fuses
    * without score calibration because it consumes only RANKS). The
    * sparse arm is [[bm25TopK]]; the dense arm embeds every document
    * AND the query bag with the same deterministic hashing vectorizer
    * (graft.functions.VectorFunctions — the bootstrap embedder; at
    * corpus scale the arm swaps to Ann.ivfTopK over learned
    * embeddings, same (id, rank) contract) and ranks by cosine. Fusion
    * is integer-exact: contribution = floor(10^6 / (rrfK + rank)), so
    * the fused order is engine-identical with no float-sum drift.
    *
    * Scale: each arm is corpus-scan + one-row stats broadcast +
    * TakeOrdered(kEach) — the two kEach-row rankings then fuse with a
    * driver-free full-outer join of two tiny relations. No corpus
    * shuffle anywhere.
    *
    * Output: top `k` of (doc_id, rank_sparse, rank_dense, rrf_micros,
    * rank), ranks null when an arm missed the doc. */
  def rrfFusion(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], dim: Int = 16, kEach: Int = 20, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    import graft.functions.VectorFunctions
    val sparse = bm25TopK(docs, id, text, terms, k = kEach)
      .select(col("doc_id"), col("rank").as("rank_sparse"))
    val qv = VectorFunctions.hashingVectorizer(
      typedLit(terms.map(_.toLowerCase)), dim)
    val emb = docs.select(id.as("doc_id"),
      VectorFunctions.hashingVectorizer(
        TextFunctions.tokens(lower(text)), dim).as("emb"))
    val dense = emb
      .withColumn("cosine", VectorFunctions.cosine(col("emb"), qv))
      .filter(col("cosine").isNotNull)
      .select(col("doc_id"),
        (floor(col("cosine") * lit(1000000.0) + lit(0.5))).cast("long")
          .as("cos_micros"))
      .orderBy(col("cos_micros").desc, col("doc_id").asc)
      .limit(kEach)
      .withColumn("rank_dense", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos_micros").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank_dense"))
    def contrib(rank: Column): Column =
      coalesce(floor(lit(1000000.0) / (lit(rrfK) + rank)).cast("long"), lit(0L))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micros",
        contrib(col("rank_sparse")) + contrib(col("rank_dense")))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_micros").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank_sparse"), col("rank_dense"),
        col("rrf_micros"), col("rank"))
  }

  /** DuckDB replica of [[rrfFusion]] over table `documents`. */
  def rrfFusionOracleSql(terms: Seq[String], dim: Int = 16,
      kEach: Int = 20, k: Int = 10, rrfK: Int = 60): String = {
    import graft.functions.VectorFunctions
    val toksSql = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
    val qTermsSql = terms.map(t => s"'${t.toLowerCase}'").mkString("[", ", ", "]")
    s"""WITH sparse AS (SELECT doc_id, rank AS rank_sparse FROM (${bm25OracleSql(terms, k = kEach)})),
emb AS (SELECT doc_id, ${VectorFunctions.hashingVectorizerSql(toksSql, dim)} AS v FROM documents),
qv AS (SELECT ${VectorFunctions.hashingVectorizerSql(qTermsSql, dim)} AS q),
cosd AS (SELECT doc_id, CASE WHEN nrm > 0 AND qnrm > 0 THEN CAST(floor(dp / (nrm * qnrm) * 1000000.0 + 0.5) AS BIGINT) END AS cos_micros FROM (SELECT doc_id, list_sum([v[i]*q[i] FOR i IN range(1, len(v)+1)]) AS dp, sqrt(list_sum([v[i]*v[i] FOR i IN range(1, len(v)+1)])) AS nrm, sqrt(list_sum([q[i]*q[i] FOR i IN range(1, len(q)+1)])) AS qnrm FROM emb, qv)),
dense AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_micros DESC, doc_id ASC) AS INTEGER) AS rank_dense FROM (SELECT * FROM cosd WHERE cos_micros IS NOT NULL ORDER BY cos_micros DESC, doc_id ASC LIMIT $kEach)),
fused AS (SELECT coalesce(s.doc_id, d.doc_id) AS doc_id, rank_sparse, rank_dense, coalesce(CAST(floor(1000000.0 / ($rrfK + rank_sparse)) AS BIGINT), 0) + coalesce(CAST(floor(1000000.0 / ($rrfK + rank_dense)) AS BIGINT), 0) AS rrf_micros FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
SELECT doc_id, rank_sparse, rank_dense, rrf_micros, CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id ASC) AS INTEGER) AS rank FROM fused ORDER BY rrf_micros DESC, doc_id ASC LIMIT $k"""
  }

  // ---------------------------------------------- retrieval QUALITY

  /** Rank discounts 1/log2(i+1) for ranks 1..k, computed ONCE in Scala
    * and injected as LITERALS into both engines — the nDCG log never
    * runs cross-engine, so there is no libm-ulp hazard to round away:
    * the discounts are data, identical by construction (Double.toString
    * is shortest-round-trip; DuckDB parses it back to the same bits). */
  private def discounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Retrieval-quality metrics — nDCG@k, MRR@k, recall@k — for a fixed
    * query set over the BM25 ranking, as one gated aggregation.
    *
    * Qrels are DERIVED deterministically (the judged-fixture stand-in
    * both engines replay): rel(doc, q) = number of q's distinct terms
    * the doc contains — graded 0..|terms|, so nDCG's gain curve
    * (2^rel − 1) is non-trivial. At production scale qrels are a
    * human-judged artifact of bounded size; here they are a rule so
    * the oracle can rebuild them.
    *
    * Scale shape: ONE stats pass (N, sum_dl, per-term df — the
    * [[bm25TopK]] aggregate over the union of all queries' terms), one
    * scoring map emitting a (qid, score, rel) row per (doc, query),
    * then a single groupBy(qid) that reduces the bounded-heap top-k
    * (`bounded_top_k` — no corpus sort, map slices reduce to ≤2k
    * pairs) of BOTH the retrieved list and the ideal-gain list, plus
    * n_rel. Two corpus scans, zero joins. Every metric folds over a ≤k
    * array in rank order, so float addition order is pinned on both
    * engines.
    *
    * Output, one row per query: (query_id, n_rel, recall_micros,
    * mrr_micros, dcg_micros, idcg_micros, ndcg_micros) — µ-scaled
    * floor-rounded BIGINTs. */
  def retrievalMetrics(docs: DataFrame, id: Column, text: Column,
      queries: Seq[(Int, Seq[String])], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 10): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty) && k > 0)
    val spark = docs.sparkSession
    graft.GraftExtensions.install(spark)
    val allTerms = queries.flatMap(_._2).distinct
    val (scored, termScore) =
      bm25Scored(tokenized(docs, id, text), allTerms, k1, b)
    val perQuery = queries.map { case (qid, terms) =>
      val score = terms.map(termScore).reduce(_ + _)
      struct(lit(qid).as("qid"),
        (floor(score * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("score"),
        relOf(terms).as("rel"))
    }
    val long = scored
      .select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .select(col("doc_id"), col("q.qid").as("qid"),
        col("q.score").as("score"), col("q.rel").as("rel"))
    // rel rides INSIDE the retrieved heap's key (key = doc_id·m + rel;
    // rel < m and doc_ids are unique per qid, so tie order on equal
    // scores is doc_id asc — valid while doc_id < 2^63/m, vacuous
    // against real ids), and the (rank, rel) list decodes from heap
    // positions
    val m = queries.map(_._2.length).max + 1 // rel ∈ [0, m)
    val agg = long.groupBy(col("qid")).agg(
      expr(s"bounded_top_k(score, doc_id * ${m}L + rel, $k)").as("topenc"),
      idealHeap(k), nRel)
      .withColumn("rr", zip_with(col("topenc"),
        sequence(lit(1), greatest(size(col("topenc")), lit(1))),
        (t, i) => struct(i.cast("int").as("rank"),
          pmod(t.getField("key"), lit(m.toLong)).as("rel"))))
    metricsTail(agg, k)
  }

  /** The same metric suite over the HYBRID ranking: each query's
    * [[rrfFusion]] semantics (BM25 arm + hashing-vectorizer dense arm,
    * RRF fused) evaluated against the identical rule-derived qrels —
    * the fused stack becomes directly comparable to the sparse-only
    * q_retrieval_metrics numbers.
    *
    * Both arms batch across queries: ONE stats pass over the union of
    * all terms (each query's score reads its own terms' df from the
    * shared row — identical doubles) and ONE corpus pass emitting per
    * (doc, query) the floor-4 BM25 score, the µ-floored cosine and rel.
    * Every fusion decision depends only on that row, so the suite
    * reduces in a single groupBy(qid): rel rides inside BOTH arm
    * heaps' keys (the [[retrievalMetrics]] encoding, valid while
    * doc_id·m < 2^53 for the decode's double divide), the ideal heap
    * and n_rel reduce alongside, and the RRF fusion + final ranking run
    * IN-ROW over the ≤2·kEach decoded head entries. Two corpus scans,
    * zero joins. Scores, ranks and fusion arithmetic are
    * [[rrfFusion]]'s per-query forms, so the oracle replays the
    * per-query chain. */
  def retrievalMetricsRrf(docs: DataFrame, id: Column, text: Column,
      queries: Seq[(Int, Seq[String])], dim: Int = 16, kEach: Int = 20,
      k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty) && k > 0)
    import graft.functions.VectorFunctions
    val spark = docs.sparkSession
    graft.GraftExtensions.install(spark)
    val allTerms = queries.flatMap(_._2).distinct
    val base = tokenized(docs, id, text)
      .withColumn("emb", VectorFunctions.hashingVectorizer(col("toks"), dim))
    val (scored, termScore) = bm25Scored(base, allTerms, 1.2, 0.75)
    val mRel = queries.map(_._2.length).max + 1 // rel ∈ [0, mRel)
    val perQuery = queries.map { case (qid, terms) =>
      val score = terms.map(termScore).reduce(_ + _)
      val qv = VectorFunctions.hashingVectorizer(
        typedLit(terms.map(_.toLowerCase)), dim)
      struct(lit(qid).as("qid"),
        (floor(score * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("score"),
        floor(VectorFunctions.cosine(col("emb"), qv) * lit(1000000.0)
          + lit(0.5)).cast("long").as("cos_micros"),
        relOf(terms).as("rel"))
    }
    val long = scored
      .select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .select(col("doc_id"), col("q.qid").as("qid"),
        col("q.score").as("score"), col("q.cos_micros").as("cos_micros"),
        col("q.rel").as("rel"))
    // ONE reduction: both arm heads (the heap's (score desc, key asc)
    // is rrfFusion's row_number total order; a NULL cos_micros is
    // skipped at heap insert exactly like its isNotNull filter), the
    // ideal heap, and n_rel
    val mL = lit(mRel.toLong)
    val agg = long.groupBy(col("qid")).agg(
      expr(s"bounded_top_k(score, doc_id * ${mRel}L + rel, $kEach)").as("tops"),
      expr(s"bounded_top_k(CAST(cos_micros AS DOUBLE), doc_id * ${mRel}L + rel, $kEach)").as("topd"),
      idealHeap(k), nRel)
    def docOf(key: Column): Column = ((key - pmod(key, mL)) / mL).cast("long")
    def relOfKey(key: Column): Column = pmod(key, mL)
    def contrib(pos: Column): Column = // array_position: 0 == absent == a NULL rank
      when(pos > 0, floor(lit(1000000.0) / (lit(rrfK) + pos)).cast("long"))
        .otherwise(0L)
    // in-row RRF fusion over the two ≤kEach decoded heads: array_union
    // == rrfFusion's full-outer join doc set, positions == its ranks,
    // and the (−rrf, doc_id) struct sort == bounded_top_k's
    // (score desc, key asc) — slice k is its final head
    val ranked = TextFunctions.bindOnce(
        transform(col("tops"), t => docOf(t.getField("key")))) { sDocs =>
      TextFunctions.bindOnce(
          transform(col("topd"), t => docOf(t.getField("key")))) { dDocs =>
        slice(array_sort(transform(array_union(sDocs, dDocs), d =>
          TextFunctions.bindOnce(array_position(sDocs, d)) { pS =>
            TextFunctions.bindOnce(array_position(dDocs, d)) { pD =>
              struct(
                (-(contrib(pS) + contrib(pD))).as("neg_rrf"),
                d.as("doc_id"),
                when(pS > 0, relOfKey(element_at(col("tops"), pS.cast("int"))
                    .getField("key")))
                  .otherwise(relOfKey(element_at(col("topd"), pD.cast("int"))
                    .getField("key"))).as("rel"))
            }
          })), 1, k)
      }
    }
    // ranked bound to a column so the fused array evaluates once per
    // row; the size(__ranked) > 0 filter is metricsCore's "qid with no
    // ranked rows" drop — vacuous here since every group inserts ≥1
    // non-null BM25 score, kept for semantic parity
    val withRr = agg
      .withColumn("__ranked", ranked)
      .withColumn("rr", zip_with(col("__ranked"),
        sequence(lit(1), greatest(size(col("__ranked")), lit(1))),
        (t, i) => struct(i.cast("int").as("rank"),
          t.getField("rel").as("rel"))))
    metricsTail(withRr.filter(size(col("__ranked")) > 0), k)
  }

  /** The same metric suite over the DENSE retrieval stack — the ANN
    * serving path ([[graft.similarity.Ann.ivfTopK]]'s shape: trained
    * IVF centroids, nProbe cell probe, exact-cosine re-rank) evaluated
    * against the identical rule-derived qrels, so sparse
    * (q_retrieval_metrics), hybrid (…_rrf), and dense rankings share
    * ONE measurable surface. Documents embed with the deterministic
    * hashing vectorizer (the bootstrap embedder — at production scale
    * the column is a learned embedding, same contract); each query's
    * term bag embeds with the same vectorizer and probes its nProbe
    * nearest cells.
    *
    * Scale shape: the IVF index build is [[KMeans]]'s (centroids are
    * the only driver state); queries are a handful of literal vectors;
    * the re-rank is the bounded heap (never a window); rel re-attaches
    * by broadcasting the ≤k×|queries| head onto the qrels scan.
    * Output: the [[metricsCore]] row per query. */
  def retrievalMetricsDense(docs: DataFrame, id: Column, text: Column,
      queries: Seq[(Int, Seq[String])], dim: Int = 16, k: Int = 10,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 3): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty) && k > 0)
    import graft.functions.VectorFunctions
    import graft.similarity.{Ann, KMeans}
    val spark = docs.sparkSession
    val emb = docs.select(id.as("vec_id"),
      VectorFunctions.hashingVectorizer(
        TextFunctions.tokens(lower(text)), dim).as("emb"))
    val cents = KMeans.centroidFrame(spark,
      KMeans.fit(emb, col("vec_id"), col("emb"), nCentroids, kmeansIters))
    val corpus = KMeans.assign(
      emb.select(col("vec_id"), col("emb").cast("array<double>").as("v"),
        VectorFunctions.norm(col("emb")).as("nrm")),
      cents, probes = 1)
    val qrows = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        VectorFunctions.hashingVectorizer(
          typedLit(terms.map(_.toLowerCase)), dim)
          .cast("array<double>").as("qv"))
    }
    val qdf = spark.range(1).select(explode(array(qrows: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("q.qv").as("qv"))
      .withColumn("qnrm", VectorFunctions.norm(col("qv")))
    val qAssigned = KMeans.assign(qdf, cents, probes = nProbe,
      idCol = "query_id", vCol = "qv", nCol = "qnrm")
    graft.GraftExtensions.install(spark)
    // external queries are not corpus members — every probed-cell doc
    // is an eligible candidate (no self-match filter)
    val scored = qAssigned.join(corpus, Seq("cent_id"))
      .select(col("query_id"), col("vec_id"),
        when(col("qnrm") > 0 && col("nrm") > 0,
          call_function("graft_dot", col("qv"), col("v")) /
            (col("qnrm") * col("nrm"))).as("cosine"))
    val ranked = Ann.heapTopK(scored, k)
      .select(col("query_id").as("qid"), col("vec_id").as("doc_id"),
        col("rk").as("rank"))
    metricsCore(ranked, relsOf(docs, id, text, queries), k)
  }

  /** (doc_id, toks, dl): each document's lower-cased token array and
    * its length — the input of every BM25 statistic, here and in
    * [[Bm25Index]]. */
  private[ops] def tokenized(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), TextFunctions.tokens(lower(text)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))

  /** `base` (toks, dl, …) with the one-row corpus stats (n, sum_dl and
    * df_i per term, ONE aggregate pass) broadcast onto every row and
    * avgdl = exact-BIGINT sum_dl / n, plus the BM25 score column of
    * each of `terms` over that frame. */
  private def bm25Scored(base: DataFrame, terms: Seq[String], k1: Double,
      b: Double): (DataFrame, Map[String, Column]) = {
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df_$i")
    }
    val allAggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl")) ++ dfAggs
    val stats = base.agg(allAggs.head, allAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n"))
    val termScore = terms.zipWithIndex.map { case (t, i) =>
      t -> bm25Term(col(s"df_$i").cast("double"),
        size(filter(col("toks"), x => x === lit(t))).cast("double"), k1, b)
    }.toMap
    (scored, termScore)
  }

  /** The BM25 score of one term on a row holding n, dl and avgdl:
    * `dfT` is the term's document frequency and `tf` its count in the
    * row, both DOUBLE. [[Bm25Index]] scores with this same expression,
    * which is what keeps its scores bit-identical to [[bm25TopK]]. */
  private[ops] def bm25Term(dfT: Column, tf: Column, k1: Double,
      b: Double): Column = {
    val idf = log(lit(1.0) +
      (col("n").cast("double") - dfT + lit(0.5)) / (dfT + lit(0.5)))
    idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
  }

  /** The rule-derived qrel of a row with `toks`: how many of `terms`
    * the document contains. */
  private def relOf(terms: Seq[String]): Column =
    terms.map(t => when(array_contains(col("toks"), t), 1L).otherwise(0L))
      .reduce(_ + _)

  /** The ideal-gain heap: the top-k rels by (rel desc, doc_id asc); its
    * eval() array IS the ideal ordering. */
  private def idealHeap(k: Int): Column =
    expr(s"bounded_top_k(CAST(rel AS DOUBLE), doc_id, $k)").as("ideal")

  private def nRel: Column =
    sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel")

  /** (qid, doc_id, rel) under the rule-derived qrels. */
  private def relsOf(docs: DataFrame, id: Column, text: Column,
      queries: Seq[(Int, Seq[String])]): DataFrame =
    tokenized(docs, id, text)
      .select(col("doc_id"), explode(array(queries.map { case (qid, terms) =>
        struct(lit(qid).as("qid"), relOf(terms).as("rel"))
      }: _*)).as("q"))
      .select(col("q.qid").as("qid"), col("doc_id"), col("q.rel").as("rel"))

  /** Metric tail of a ranking given as rows: `ranked` (qid, doc_id,
    * rank — ≤k rows per query, unique (qid, doc_id)) left-broadcast-
    * joins onto ONE qrels scan `rels` (qid, doc_id, rel) and everything
    * reduces in a single groupBy(qid): the retrieved (rank, rel) list
    * collects from the non-null-rank rows (collect_list skips the
    * nulls), the ideal heap and n_rel reduce alongside. */
  private def metricsCore(ranked: DataFrame, rels: DataFrame,
      k: Int): DataFrame = {
    graft.GraftExtensions.install(rels.sparkSession)
    val agg = rels.join(broadcast(ranked), Seq("qid", "doc_id"), "left")
      .groupBy(col("qid")).agg(
        array_sort(collect_list(when(col("rank").isNotNull,
          struct(col("rank"), col("rel"))))).as("rr"),
        idealHeap(k), nRel)
    // a qid with no ranked rows is absent from the oracles' ret CTE
    // (an inner join) — drop it here too
    metricsTail(agg.filter(size(col("rr")) > 0), k)
  }

  /** The one metric tail: `agg` (qid, rr, ideal, n_rel) — `rr` the
    * retrieved (rank, rel) list in rank order, `ideal` the
    * [[idealHeap]] — to the µ-floored metric row per query. Every fold
    * runs over a rank-ordered ≤k array, so float addition order is
    * pinned; gains use the literal [[discounts]]. */
  private def metricsTail(agg: DataFrame, k: Int): DataFrame = {
    val d = discounts(k)
    def gainAt(rel: Column, rank: Column): Column =
      (call_function("shiftleft", lit(1L), rel.cast("int")) - 1L)
        .cast("double") * element_at(typedLit(d), rank)
    def foldSum(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val dcgRaw = foldSum(transform(col("rr"),
      r => gainAt(r.getField("rel"), r.getField("rank"))))
    val idcgRaw = foldSum(zip_with(col("ideal"),
      sequence(lit(1), greatest(size(col("ideal")), lit(1))),
      (s, i) => gainAt(s.getField("score").cast("long"), i)))
    val hits = size(filter(col("rr"), r => r.getField("rel") > 0)).cast("long")
    val minRank = array_min(transform(
      filter(col("rr"), r => r.getField("rel") > 0), r => r.getField("rank")))
    agg.select(col("qid").as("query_id"), col("n_rel"),
      when(col("n_rel") > 0,
        floor(hits.cast("double") * lit(1e6) / col("n_rel").cast("double")
          + lit(0.5)).cast("long")).otherwise(0L).as("recall_micros"),
      when(minRank.isNotNull,
        floor(lit(1e6) / minRank.cast("double") + lit(0.5)).cast("long"))
        .otherwise(0L).as("mrr_micros"),
      floor(dcgRaw * lit(1e6) + lit(0.5)).cast("long").as("dcg_micros"),
      floor(idcgRaw * lit(1e6) + lit(0.5)).cast("long").as("idcg_micros"),
      when(idcgRaw > 0,
        floor(dcgRaw / idcgRaw * lit(1e6) + lit(0.5)).cast("long"))
        .otherwise(0L).as("ndcg_micros"))
  }

  /** DuckDB replica of [[retrievalMetrics]] over table `documents` —
    * same stats, same fixed term order, same floor-4 scores, same
    * LITERAL discounts, same rank-ordered folds. */
  def retrievalMetricsOracleSql(queries: Seq[(Int, Seq[String])],
      k1: Double = 1.2, b: Double = 0.75, k: Int = 10): String = {
    val allTerms = queries.flatMap(_._2).distinct
    val termIdx = allTerms.zipWithIndex.toMap
    val dfExprs = allTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(", ")
    def termScoreSql(t: String): String = {
      val i = termIdx(t)
      s"""(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5)) * (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * ${k1 + 1.0}) / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)))"""
    }
    val qRows = queries.map { case (qid, terms) =>
      val score = terms.map(termScoreSql).mkString(" + ")
      val rel = terms.map(t =>
        s"(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)").mkString(" + ")
      s"SELECT doc_id, $qid AS qid, floor(($score) * 10000.0 + 0.5) / 10000.0 AS score, CAST($rel AS BIGINT) AS rel FROM sc"
    }.mkString(" UNION ALL ")
    raw"""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfExprs FROM base),
sc AS (SELECT * FROM base, (SELECT *, CAST(sum_dl AS DOUBLE) / n AS avgdl FROM stats)),
lng AS ($qRows),
ret AS (SELECT qid, rank, rel FROM (SELECT qid, doc_id, rel, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM lng) WHERE rank <= $k),
${metricsTailSql(k)}"""
  }

  /** DuckDB replica of [[retrievalMetricsRrf]]: each query's fused
    * ranking replayed via [[rrfFusionOracleSql]] (nested WITH in a
    * derived table), joined to the shared rule-derived qrels, then
    * the identical metric tail. */
  def retrievalMetricsRrfOracleSql(queries: Seq[(Int, Seq[String])],
      dim: Int = 16, kEach: Int = 20, k: Int = 10, rrfK: Int = 60): String = {
    val relRows = queries.map { case (qid, terms) =>
      val rel = terms.map(t =>
        s"(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)").mkString(" + ")
      s"SELECT doc_id, $qid AS qid, CAST($rel AS BIGINT) AS rel FROM base"
    }.mkString(" UNION ALL ")
    val rankedRows = queries.map { case (qid, terms) =>
      s"SELECT $qid AS qid, doc_id, CAST(rank AS INTEGER) AS rank FROM (${rrfFusionOracleSql(terms, dim, kEach, k, rrfK)})"
    }.mkString(" UNION ALL ")
    raw"""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
lng AS ($relRows),
ranked AS ($rankedRows),
ret AS (SELECT r.qid, r.rank, l.rel FROM ranked r JOIN lng l ON r.qid = l.qid AND r.doc_id = l.doc_id),
${metricsTailSql(k)}"""
  }

  /** DuckDB replica of [[retrievalMetricsDense]]: hashing-vectorizer
    * embeddings → the full [[graft.similarity.KMeans]] fit (replayed
    * bit-for-bit via KMeans.ctes over the embedding CTE — the
    * q_rag_pipeline_ivf precedent) → probes=1 corpus assignment →
    * nProbe query probe over the literal query vectors → exact-cosine
    * re-rank → the shared metric tail against the same rule-derived
    * qrels. */
  def retrievalMetricsDenseOracleSql(queries: Seq[(Int, Seq[String])],
      dim: Int = 16, k: Int = 10, nCentroids: Int = 8, nProbe: Int = 2,
      kmeansIters: Int = 3): String = {
    import graft.functions.VectorFunctions
    import graft.similarity.KMeans
    val toksSql = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
    val kctes = KMeans.ctes(nCentroids, kmeansIters, dim,
      vecSql = "v0", fromSql = "hsrc")
    val cos = s"CASE WHEN e.nrm > 0 AND c.cnrm > 0 THEN ${KMeans.dotSql("e.v", "c.cv")} / (e.nrm * c.cnrm) END"
    val qvRows = queries.map { case (qid, terms) =>
      val qTermsSql = terms.map(t => s"'${t.toLowerCase}'").mkString("[", ", ", "]")
      s"SELECT $qid AS query_id, ${VectorFunctions.hashingVectorizerSql(qTermsSql, dim)} AS qv0"
    }.mkString(" UNION ALL ")
    val relRows = queries.map { case (qid, terms) =>
      val rel = terms.map(t =>
        s"(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)").mkString(" + ")
      s"SELECT doc_id, $qid AS qid, CAST($rel AS BIGINT) AS rel FROM base"
    }.mkString(" UNION ALL ")
    raw"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
hsrc AS (SELECT doc_id AS vec_id, ${VectorFunctions.hashingVectorizerSql("toks", dim)} AS v0 FROM base),
$kctes,
corpus AS (SELECT vec_id, v, nrm, cent_id FROM (SELECT e.vec_id, e.v, e.nrm, c.cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY ($cos) DESC NULLS LAST, c.cent_id ASC) AS rn FROM e, cents_$kmeansIters c) WHERE rn = 1),
qsrc AS ($qvRows),
qe AS (SELECT query_id, CAST(qv0 AS DOUBLE[]) AS qv, sqrt(${KMeans.dotSql("qv0", "qv0")}) AS qnrm FROM qsrc),
qa AS (SELECT query_id, qv, qnrm, cent_id FROM (SELECT q.query_id, q.qv, q.qnrm, c.cent_id, row_number() OVER (PARTITION BY q.query_id ORDER BY (CASE WHEN q.qnrm > 0 AND c.cnrm > 0 THEN ${KMeans.dotSql("q.qv", "c.cv")} / (q.qnrm * c.cnrm) END) DESC NULLS LAST, c.cent_id ASC) AS rn FROM qe q, cents_$kmeansIters c) WHERE rn <= $nProbe),
scored AS (SELECT query_id, corpus.vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN ${KMeans.dotSql("qv", "v")} / (qnrm * nrm) END AS cosine FROM qa JOIN corpus ON qa.cent_id = corpus.cent_id),
lng AS ($relRows),
rtop AS (SELECT qid, doc_id, rank FROM (SELECT query_id AS qid, vec_id AS doc_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS INTEGER) AS rank FROM scored) WHERE rank <= $k),
ret AS (SELECT r.qid, r.rank, l.rel FROM rtop r JOIN lng l ON r.qid = l.qid AND r.doc_id = l.doc_id),
${metricsTailSql(k)}"""
  }

  /** The metric-tail CTEs + final SELECT shared by both oracle
    * builders — expects CTEs `ret(qid, rank, rel)` (the ranking under
    * evaluation) and `lng(qid, doc_id, rel, …)` (the full qrels) in
    * scope. One copy is load-bearing: the sparse and fused gates must
    * score with the same spec or a tail fix could drift them apart. */
  private def metricsTailSql(k: Int): String = {
    val dList = discounts(k).mkString("[", ", ", "]")
    s"""d(ds) AS (VALUES ($dList)),
ragg AS (SELECT qid, list_sum([CAST((1::BIGINT << CAST(g.rel AS INTEGER)) - 1 AS DOUBLE) * ds[g.rank] FOR g IN gains]) AS dcg_raw,
  len(list_filter(gains, g -> g.rel > 0)) AS hits,
  list_min([g.rank FOR g IN list_filter(gains, g -> g.rel > 0)]) AS min_rank
 FROM (SELECT qid, list({'rank': rank, 'rel': rel} ORDER BY rank) AS gains FROM ret GROUP BY qid), d),
iagg AS (SELECT qid, list_sum([CAST((1::BIGINT << CAST(ideal[i] AS INTEGER)) - 1 AS DOUBLE) * ds[i] FOR i IN range(1, len(ideal)+1)]) AS idcg_raw,
  n_rel
 FROM (SELECT qid, (list(rel ORDER BY rel DESC, doc_id ASC))[1:$k] AS ideal, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel FROM lng GROUP BY qid), d)
SELECT r.qid AS query_id, CAST(i.n_rel AS BIGINT) AS n_rel,
 CASE WHEN i.n_rel > 0 THEN CAST(floor(CAST(r.hits AS DOUBLE) * 1000000.0 / CAST(i.n_rel AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END AS recall_micros,
 CASE WHEN r.min_rank IS NOT NULL THEN CAST(floor(1000000.0 / CAST(r.min_rank AS DOUBLE) + 0.5) AS BIGINT) ELSE 0 END AS mrr_micros,
 CAST(floor(r.dcg_raw * 1000000.0 + 0.5) AS BIGINT) AS dcg_micros,
 CAST(floor(i.idcg_raw * 1000000.0 + 0.5) AS BIGINT) AS idcg_micros,
 CASE WHEN i.idcg_raw > 0 THEN CAST(floor(r.dcg_raw / i.idcg_raw * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS ndcg_micros
FROM ragg r JOIN iagg i ON r.qid = i.qid"""
  }

  /** DuckDB replica of [[tfIdfTopTerms]] over table `documents`. */
  def tfIdfOracleSql(k: Int = 3): String =
    raw"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, rank, term, tf, df, floor(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS tfidf
FROM (SELECT doc_id, term, tf, df, n_docs, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS INTEGER) AS rank FROM tf JOIN dft USING (term), n)
WHERE rank <= $k"""
}
