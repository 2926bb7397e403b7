package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{Corpus, Retrieval}

/** BM25 retrieval, stratified sampling, and PII-scrub behavior. */
class RetrievalCorpusSpec extends SparkSpec {

  import spark.implicits._

  test("bm25 ranks term-dense docs above term-free docs, rank is total-ordered") {
    val docs = Seq(
      (1L, "spark stream spark stream spark"),
      (2L, "spark and nothing else here today"),
      (3L, "completely unrelated words only here"),
      (4L, "stream stream stream stream stream")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
      Seq("spark", "stream"), k = 4).collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4)) // ranks dense
    val byRank = out.sortBy(_.getInt(2)).map(_.getLong(0)).toSeq
    assert(byRank.head == 1L, s"two-term doc must win: $byRank")
    assert(byRank.last == 3L, s"term-free doc must be last: $byRank")
    // scores are non-increasing in rank
    val scores = out.sortBy(_.getInt(2)).map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("bm25 idf down-weights a term every document contains") {
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common common"),
      (3L, "common stuff")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
      Seq("common", "rare"), k = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1 holds the rare term once -> must beat doc 2's doubled common
    assert(out(1L) > out(2L))
  }

  test("bm25 inverted index: incremental build, bit-identical to brute force") {
    val tmp = java.nio.file.Paths.get(tmpDir("graft_bm25idx_spec"))
    try {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("text"))
      val corpus = s"$tmp/corpus"
      val idx = s"$tmp/index"
      // two corpus commits, index catches up after each (incremental)
      graft.sinks.SnapshotStore.commitAppend(spark, corpus,
        docs.filter(col("doc_id") < 250))
      assert(graft.ops.Bm25Index.maintain(spark, corpus, idx).contains(0L))
      graft.sinks.SnapshotStore.commitAppend(spark, corpus,
        docs.filter(col("doc_id") >= 250))
      assert(graft.ops.Bm25Index.maintain(spark, corpus, idx).contains(1L))
      // already current → no-op
      assert(graft.ops.Bm25Index.maintain(spark, corpus, idx).isEmpty)
      val terms = Seq("spark", "stream", "vector", "hash")
      val viaIndex = graft.ops.Bm25Index.bm25TopK(spark, idx, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val brute = Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
          terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      assert(viaIndex === brute) // ids, SCORES (bitwise), and ranks
    } finally {
      import java.util.Comparator
      java.nio.file.Files.walk(tmp).sorted(Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("bm25 index top-k pads with zero-score docs when matches are scarce") {
    val tmp = java.nio.file.Paths.get(tmpDir("graft_bm25pad_spec"))
    try {
      val docs = Seq(
        (1L, "zzyzx appears only here"),
        (2L, "no query words at all"),
        (3L, "nothing relevant either")).toDF("doc_id", "text")
      val corpus = s"$tmp/corpus"; val idx = s"$tmp/index"
      graft.sinks.SnapshotStore.commitAppend(spark, corpus, docs)
      graft.ops.Bm25Index.maintain(spark, corpus, idx)
      val out = graft.ops.Bm25Index.bm25TopK(spark, idx, Seq("zzyzx"), k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      // matched doc first, then zero-score docs by id — the brute-force order
      assert(out.map(_._1) === Seq(1L, 2L, 3L))
      assert(out.head._2 > 0.0 && out.tail.forall(_._2 === 0.0))
    } finally {
      import java.util.Comparator
      java.nio.file.Files.walk(tmp).sorted(Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("stratified sample keeps ~rate per stratum and is deterministic") {
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val keep = Corpus.sampleKeep(col("lang"), col("doc_id"),
      Seq("en" -> 0.5, "de" -> 0.1), 0.0)
    val kept = docs.filter(keep).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("en") - 500L) < 60, s"en kept ${kept("en")} of 1000")
    assert(math.abs(kept("de") - 100L) < 40, s"de kept ${kept("de")} of 1000")
    // rerun identical (hash-derived, no RNG)
    val again = docs.filter(keep).agg(sum("doc_id")).head.getLong(0)
    val first = docs.filter(keep).agg(sum("doc_id")).head.getLong(0)
    assert(again == first)
  }

  test("pii redaction replaces email, ip, phone; leaves clean text alone") {
    val rows = Seq(
      (1L, "write to a.user+tag@sub.example.co.uk for info"),
      (2L, "server at 192.168.001.1 responded"),
      (3L, "call +44 20 7946 0958 now"),
      (4L, "us format +1 (555) 010-1234 works"),
      (5L, "no pii in this sentence at all"),
      (6L, "version 1.2.3 is not an ip")).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "write to <EMAIL> for info")
    assert(out(2L) == "server at <IP> responded")
    assert(out(3L) == "call <PHONE> now")
    assert(out(4L) == "us format <PHONE> works")
    assert(out(5L) == "no pii in this sentence at all")
    assert(out(6L) == "version 1.2.3 is not an ip") // needs 4 octets
  }

  test("url extraction finds every url in order") {
    val out = Seq((1L, "see https://a.example/x then http://b.example/y?z=1 end"))
      .toDF("doc_id", "text")
      .select(array_join(TextFunctions.extractUrls(col("text")), "|"))
      .head.getString(0)
    assert(out == "https://a.example/x|http://b.example/y?z=1")
  }

  test("decontamination flags exact and partial benchmark overlap only") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // the "benchmark" doc
      (2L, "prefix words then alpha beta gamma delta epsilon tail"), // overlaps
      (3L, "totally clean document with no shared fivegram at all"),
      (4L, "alpha beta gamma but only four grams delta")) // < 5-gram overlap
      .toDF("doc_id", "text")
    val eval = docs.filter(col("doc_id") === 1L).select(col("text").as("eval_text"))
    val out = graft.ops.Decontaminate.overlap(docs, col("doc_id"), col("text"),
        eval, col("eval_text"), n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L)._2, "benchmark doc itself must be flagged")
    assert(out(2L) == (1L, true), s"partial overlap missed: ${out(2L)}")
    assert(out(3L) == (0L, false))
    assert(out(4L) == (0L, false), "4-token overlap must not trip a 5-gram gate")
  }

  test("char entropy: zero for repeated char, 2 bits for uniform-4, ranks gibberish") {
    val docs = Seq(
      (1L, "aaaaaaaa"),           // one symbol → 0 bits
      (2L, "abcdabcd"),           // uniform over 4 → exactly 2 bits
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextFunctions.charEntropyMicros(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 0L)
    assert(out(2L) === 2000000L, s"uniform-4 gave ${out(2L)}")
    assert(out(3L) > 3000000L, s"natural text gave ${out(3L)}") // > 3 bits
  }

  test("gram dup rate: shared boilerplate scores high, unique docs zero") {
    val boiler = (0 until 10).map(k => s"template$k").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler unique alpha ending one"),
      (2L, s"$boiler unique beta ending two"),
      (3L, "entirely original words that appear nowhere else at all today"))
      .toDF("doc_id", "text")
    val out = graft.ops.Decontaminate.gramDupRate(docs, col("doc_id"), col("text"), n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(3L)._3 === 0.0)
    // docs 1 and 2 share the 6 all-template 5-grams of the 10-token
    // prefix plus the 7th gram ending at the common token "unique"
    assert(out(1L)._2 === 7L && out(2L)._2 === 7L, out.toString)
    assert(out(1L)._3 > 0.5)
  }

  test("mixture rates realize the target shares at the max achievable budget") {
    val docs = Seq(
      (1L, "en", "a " * 999 + "a"),   // en: 1000 tokens
      (2L, "de", "b " * 299 + "b"),   // de: 300
      (3L, "zh", "c " * 99 + "c"))    // zh: 100
      .toDF("doc_id", "lang", "text")
    val out = graft.ops.Corpus.mixtureRates(docs, col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")),
        Seq("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // budget = min(1000/0.5, 300/0.3, 100/0.2) = 500 → binding stratum zh
    assert(out("zh")._3 === 1.0)           // binding stratum keeps all
    assert(out("en")._3 === 0.25)          // 0.5*500/1000
    assert(out("de")._3 === 0.5)           // 0.3*500/300
    // realized mixture: rate_s * tokens_s / budget == share_s exactly
    val budget = 500.0
    out.foreach { case (_, (toks, share, rate)) =>
      assert(math.abs(rate * toks / budget - share) < 1e-4)
    }
  }

  test("unigram LM: corpus-typical doc scores above rare-token doc") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the mat"),
      (4L, "zyx qwv jkl pqr stu vwx")) // all-rare gibberish
      .toDF("doc_id", "text")
    val out = graft.ops.UnigramLm.scoreDocs(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(4L), s"typical ${out(1L)} vs gibberish ${out(4L)}")
    assert(out(1L) == out(3L), "identical docs must score identically")
    // mean log-prob is negative and bounded by ln(1/T) (modulo the two
    // floor quantizations, each worth up to 1e-4)
    val n = 24.0
    assert(out.values.forall(v => v < 0 && v >= math.log(1.0 / n) - 3e-4))
  }
}
