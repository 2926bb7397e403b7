package graft

import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Dsir, Retrieval}

/** Unit tests for the round-6 corpus additions: RAG chunking, DSIR
  * importance weighting/selection, and per-doc TF-IDF top terms. The
  * oracle gate re-checks all four against DuckDB at sf0.01; these specs
  * pin the semantics on hand-built corpora where the expected output is
  * known by construction. */
class DsirChunkSpec extends SparkSpec {
  import spark.implicits._

  // ---- chunkOverlap -------------------------------------------------------

  test("chunkOverlap: windows advance by stride with chunk-sized spans") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Corpus.chunkOverlap(docs, col("doc_id"), col("text"),
        chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "n_tokens", "chunk_text")
      .collect()
    // starts 0,3,6,9 over 10 tokens
    assert(out.map(_.getInt(1)).toSeq === Seq(0, 3, 6, 9))
    assert(out.map(_.getInt(2)).toSeq === Seq(4, 4, 4, 1))
    assert(out.head.getString(3) === "t1 t2 t3 t4")
    assert(out(1).getString(3) === "t4 t5 t6 t7") // 1-token overlap
    assert(out.last.getString(3) === "t10")
  }

  test("chunkOverlap: doc shorter than one chunk yields exactly one chunk") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val out = Corpus.chunkOverlap(docs, col("doc_id"), col("text"), 32, 24).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("chunk_text") === "a b")
    assert(out.head.getAs[Int]("n_tokens") === 2)
  }

  test("chunkOverlap: token coverage is exact — every token appears in " +
      "ceil((pos+stride-chunk)/stride)..pos/stride windows") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = Corpus.chunkOverlap(docs, col("doc_id"), col("text"), 32, 24)
    // reassembling non-overlapping prefixes (first `stride` tokens of each
    // chunk) reproduces the document
    val rebuilt = out.orderBy("chunk_idx")
      .select(col("chunk_text"))
      .collect()
      .map(_.getString(0).split(" ").take(24))
      .flatten
    assert(rebuilt.toSeq === text.split(" ").toSeq)
  }

  // ---- DSIR ---------------------------------------------------------------

  private lazy val dsirDocs = {
    // target-like docs repeat the "en profile" vocabulary; off-target docs
    // use a disjoint vocabulary. lang tags the target subset.
    val tgt = (1L to 20L).map(i => (i, "the quick brown fox jumps over the lazy dog", "en"))
    val off = (21L to 40L).map(i => (i, "zzq xxv yyw qqp zzq xxv yyw qqp zzq", "zh"))
    (tgt ++ off).toDF("doc_id", "text", "lang")
  }

  test("DSIR: target-vocabulary docs score higher than off-target docs") {
    val w = Dsir.importanceWeights(dsirDocs, col("doc_id"), col("text"),
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val tgtMin = (1L to 20L).map(w).min
    val offMax = (21L to 40L).map(w).max
    assert(tgtMin > offMax,
      s"target min $tgtMin should exceed off-target max $offMax")
  }

  test("DSIR: weights are deterministic across runs") {
    def run() = Dsir.importanceWeights(dsirDocs, col("doc_id"), col("text"),
      col("lang") === "en").orderBy("doc_id").collect().map(_.getDouble(2)).toSeq
    assert(run() === run())
  }

  test("DSIR selectTop keeps the requested fraction, all above the cut") {
    val kept = Dsir.selectTop(dsirDocs, col("doc_id"), col("text"),
      col("lang") === "en", keepFraction = 0.5).collect()
    // two weight classes of 20 docs each → the 0.5 cut keeps the target class
    assert(kept.map(_.getLong(0)).toSet === (1L to 20L).toSet)
  }

  test("DSIR scoreColumn serves the trained model identically to the " +
      "batch scoring join") {
    val model = Dsir.trainModel(dsirDocs, col("doc_id"), col("text"),
      col("lang") === "en")
    assert(model.nonEmpty && model.size <= 64)
    val served = dsirDocs.select(col("doc_id"),
        Dsir.scoreColumn(col("text"), model).as("lw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Dsir.importanceWeights(dsirDocs, col("doc_id"), col("text"),
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(served === batch)
  }

  test("CorpusIngest importance gate drops off-target docs at landing") {
    import graft.sinks.SnapshotStore
    val model = Dsir.trainModel(dsirDocs, col("doc_id"), col("text"),
      col("lang") === "en")
    val tmp = tmpDir("graft_dsiringest")
    graft.streaming.CorpusIngest.ingestBatch(spark, tmp,
      dsirDocs.select("doc_id", "text"), batchId = 0L,
      minQuality = 0.0, dsirModel = Some(model), minLogWeight = 0.0)
    val landed = SnapshotStore.read(spark, tmp).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup collapses the 20 identical target texts to doc_id 1;
    // every off-target doc (negative weight) is gated out
    assert(landed === Set(1L))
  }

  // ---- bigram LM / PMI ----------------------------------------------------

  test("bigramScoreDocs: conditional probabilities from context counts; " +
      "sub-bigram docs absent") {
    import graft.ops.Ngrams
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = Ngrams.bigramScoreDocs(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // c(a,b)=2, c(a,c)=1, c(a)=3
    def f4ofLn(x: Double) =
      math.floor(math.floor(x * 1e6 + 0.5) / 100.0 + 0.5) / 10000.0
    assert(out(1L) === ((1L, f4ofLn(math.log(2.0 / 3)))))
    assert(out(3L) === ((1L, f4ofLn(math.log(1.0 / 3)))))
    assert(!out.contains(4L), "one-token doc has no bigrams")
  }

  test("pmiCollocations: an exclusive pair outranks a promiscuous token") {
    import graft.ops.Ngrams
    // "p q" only ever co-occur; "x" pairs with many right-hand tokens
    val docs = Seq(
      (1L, "p q p q p q"), (2L, "x a x b x c x a x b x c")).toDF("doc_id", "text")
    val out = Ngrams.pmiCollocations(docs, col("doc_id"), col("text"),
        minCount = 2L, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    // the exclusive p/q pairs take ranks 1-2 — (q,p) first: c=2 with
    // both marginals 2 gives ln(2N/4) > (p,q)'s ln(3N/9) — every
    // x-pair shares x's marginal of 11 and lands below both
    assert(out.take(2).map(p => (p._2, p._3)).toSet === Set(("q", "p"), ("p", "q")))
    assert(out.head._2 === "q" && out.head._3 === "p")
    assert(out.map(_._1).toSeq === (1 to out.length).toSeq) // dense ranks
  }

  // ---- hashing vectorizer -------------------------------------------------

  test("hashingVectorizer: bucket counts sum to the token count, " +
      "identical tokens land in identical buckets") {
    import graft.functions.{TextFunctions, VectorFunctions}
    val docs = Seq((1L, "a b c a b a"), (2L, "a a a a a a")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        VectorFunctions.hashingVectorizer(
          TextFunctions.tokens(col("text")), dim = 8).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L).sum === 6.0)
    assert(out(2L).sum === 6.0)
    // doc2 is one token repeated: exactly one hot bucket of 6
    assert(out(2L).count(_ > 0) === 1)
    assert(out(2L).max === 6.0)
    // "a" contributes to the same bucket in both docs
    val aBucket = out(2L).indexWhere(_ > 0)
    assert(out(1L)(aBucket) >= 3.0)
  }

  // ---- TF-IDF top terms ---------------------------------------------------

  test("tfIdfTopTerms: rank order is (tf desc, df asc, term asc)") {
    val docs = Seq(
      (1L, "apple apple banana cherry"),   // apple tf=2; banana/cherry tf=1
      (2L, "banana banana banana cherry"), // banana tf=3
      (3L, "cherry date date")).toDF("doc_id", "text")
    val out = Retrieval.tfIdfTopTerms(docs, col("doc_id"), col("text"), k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // doc1: apple (tf2) then banana vs cherry both tf1 — banana df=2,
    // cherry df=3 → banana (lower df = rarer... df asc prefers smaller)
    assert(out.toSeq === Seq(
      (1L, 1, "apple"), (1L, 2, "banana"),
      (2L, 1, "banana"), (2L, 2, "cherry"),
      (3L, 1, "date"), (3L, 2, "cherry")))
  }

  test("tfIdfTopTerms: tfidf payload is tf*ln(N/df) floor-4") {
    val docs = Seq(
      (1L, "x x y"),
      (2L, "y z")).toDF("doc_id", "text")
    val out = Retrieval.tfIdfTopTerms(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(5)).toMap
    def f4(v: Double) = math.floor(v * 10000.0 + 0.5) / 10000.0
    assert(out((1L, "x")) === f4(2.0 * math.log(2.0 / 1.0)))
    assert(out((1L, "y")) === f4(1.0 * math.log(2.0 / 2.0)))
    assert(out((2L, "z")) === f4(1.0 * math.log(2.0 / 1.0)))
  }
}
