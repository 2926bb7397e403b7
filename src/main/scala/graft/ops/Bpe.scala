package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Distributed BPE tokenizer training + application (the Sennrich et
  * al. 2016 merge loop, in the word-frequency formulation production
  * tokenizer trainers use).
  *
  * Scale shape — the part that matters at 100 TB:
  *  1. ONE corpus-wide aggregate reduces tokens to the (word, freq)
  *     vocabulary table. Everything after operates on the VOCAB, which
  *     is Heaps'-law-bounded, not corpus-bounded.
  *  2. TWO-TIER merge loop. The r6 review flagged the latency class of
  *     one-Spark-job-per-merge: a production 32k-merge vocabulary would
  *     be 32k SEQUENTIAL jobs — memory-safe but hours of scheduler
  *     latency. So when the vocab fits a driver budget
  *     (`localVocabLimit` rows — the common case: Heaps' law puts even
  *     web-scale corpora in the 10^6..10^8 distinct-word range, and
  *     production trainers all collect word counts for exactly this
  *     reason), the merge loop runs LOCALLY over the collected
  *     (word, repr, freq) table with incremental pair-count
  *     maintenance: O(1) Spark jobs TOTAL (checkpoint + count +
  *     collect), however many merges. Byte-equal to the distributed
  *     loop — same occurrence counting, same left-to-right
  *     non-overlapping replace, same (cnt desc, pair asc-by-UTF-8-
  *     bytes) tie-break — asserted by CurationOpsSpec's equivalence
  *     test. Above the limit, the distributed loop below is the
  *     fallback: one vocab-sized pair explode + weighted count (map-
  *     side combine on exact integer freqs) and a 1-ROW argmax collect
  *     per merge — unbounded in vocab size, linear in merges.
  *  3. Distributed merge application is a per-row string replace over
  *     the vocab (left-to-right non-overlapping in all three engines —
  *     greedy BPE order), localCheckpointed per iteration so lineage
  *     doesn't recompute the whole chain under each iteration's action.
  *  4. Encoding joins the corpus token stream back to the final vocab
  *     representation on the word key. The vocab is corpus-DERIVED, so
  *     the join carries the corpus-side sort-merge pin — the mis-broadcast
  *     class (SCALE.md findings four/five) applies verbatim.
  *
  * Tie-breaks are total (count desc, pair asc on exact integers), so
  * the learned merges — and therefore the whole oracle replay — are
  * deterministic.
  */
object Bpe {

  /** Trained state: the merge list (driver-side, nMerges rows) and the
    * final per-word representation table (distributed, vocab-sized). */
  private final case class Trained(
      merges: Seq[(Int, String, String, Long)], vocab: DataFrame)

  /** Vocab-row budget below which the merge loop runs on the driver.
    * 2M rows × ~100 B ≈ 200 MB — comfortable for any driver sized for
    * Spark work, and far above real tokenizer-training vocabularies
    * after minimum-frequency trimming. */
  val DefaultLocalVocabLimit: Long = 2000000L

  private def train(docs: DataFrame, text: Column, nMerges: Int,
      localVocabLimit: Long = DefaultLocalVocabLimit): Trained = {
    require(nMerges >= 1)
    val vocab = docs
      .select(explode(TextFunctions.tokens(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        concat_ws(" ", split(col("word"), "")).as("repr"), col("freq"))
    val repr = vocab.localCheckpoint()
    if (repr.count() <= localVocabLimit) trainLocal(repr, nMerges)
    else trainDistributed(repr, nMerges)
  }

  /** Driver-side merge loop over the collected vocab. Incremental
    * bookkeeping: `pairCounts` holds every adjacent symbol pair's
    * weighted occurrence count (occurrence-counted, exactly like the
    * distributed explode — "a b a b" contributes 2 to "a b" even
    * though the greedy replace merges only the first); `pairWords` is
    * an append-only pair → word-index posting list with stale entries
    * filtered by a containment re-check, so each merge touches ONLY
    * the words that still contain the pair. Distinct-pair space is
    * tiny (≤ (initial symbols + merges)² in principle, thousands in
    * practice), so the per-merge argmax scan is cheap. */
  private def trainLocal(vocab0: DataFrame, nMerges: Int): Trained = {
    import scala.collection.mutable
    val spark = vocab0.sparkSession
    import spark.implicits._
    val rows = vocab0.select("word", "repr", "freq").collect()
    val words = rows.map(_.getString(0))
    val reprs = rows.map(_.getString(1))
    val freqs = rows.map(_.getLong(2))

    def pairsOf(r: String): Array[String] = {
      val t = r.split(" ")
      if (t.length < 2) Array.empty[String]
      else Array.tabulate(t.length - 1)(i => t(i) + " " + t(i + 1))
    }

    val pairCounts = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < reprs.length) {
      val seen = mutable.HashSet.empty[String]
      pairsOf(reprs(i)).foreach { p =>
        pairCounts.update(p, pairCounts.getOrElse(p, 0L) + freqs(i))
        if (seen.add(p))
          pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += i
      }
      i += 1
    }

    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges && pairCounts.nonEmpty) {
      var bestPair: String = null
      var bestCnt = Long.MinValue
      pairCounts.foreach { case (p, c) =>
        // ties break as Spark's and DuckDB's ORDER BY do: by unsigned
        // UTF-8 bytes (Java's compareTo orders UTF-16 units)
        if (c > bestCnt || (c == bestCnt &&
            UTF8String.fromString(p).compareTo(UTF8String.fromString(bestPair)) < 0)) {
          bestPair = p; bestCnt = c
        }
      }
      val merged = bestPair.replace(" ", "")
      learned += ((rank, bestPair, merged, bestCnt))
      val needle = " " + bestPair + " "
      val candidates = pairWords.remove(bestPair)
        .getOrElse(mutable.ArrayBuffer.empty)
      val done = mutable.HashSet.empty[Int]
      candidates.foreach { idx =>
        if (done.add(idx)) {
          val r = reprs(idx)
          if ((" " + r + " ").contains(needle)) {
            pairsOf(r).foreach { p =>
              val nc = pairCounts.getOrElse(p, 0L) - freqs(idx)
              if (nc <= 0L) pairCounts.remove(p)
              else pairCounts.update(p, nc)
            }
            // java.lang.String.replace = left-to-right non-overlapping,
            // the same semantics as Spark's `replace` expression and
            // DuckDB's replace() in the distributed/oracle paths —
            // including the consumed-separator quirk on back-to-back
            // occurrences (" a b a b " merges only the first)
            val nr = (" " + r + " ").replace(needle, " " + merged + " ").trim
            reprs(idx) = nr
            val seen = mutable.HashSet.empty[String]
            pairsOf(nr).foreach { p =>
              pairCounts.update(p, pairCounts.getOrElse(p, 0L) + freqs(idx))
              if (seen.add(p))
                pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += idx
            }
          }
        }
      }
      rank += 1
    }

    // re-distribute the final representation table so `encode`'s
    // corpus join sees an ordinary partitioned relation (NOT a
    // LocalRelation literal, which would re-open the mis-broadcast
    // class the corpusSide pin exists to prevent)
    val sc = spark.sparkContext
    val out = sc.parallelize(
        words.indices.map(j => (words(j), reprs(j), freqs(j))),
        math.max(1, math.min(sc.defaultParallelism, words.length)))
      .toDF("word", "repr", "freq")
    Trained(learned.result(), out)
  }

  /** Vocab-unbounded fallback: one Spark job per merge (pair explode +
    * weighted count + 1-row argmax collect). Latency linear in merges —
    * that is exactly the class the local tier exists to avoid; this
    * path is for vocabularies too large to collect. */
  private def trainDistributed(vocab0: DataFrame, nMerges: Int): Trained = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    var repr = vocab0
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val t = split(col("repr"), " ")
      val pairs = repr.select(
          explode(when(size(t) >= 2,
            transform(sequence(lit(0), size(t) - 2), j =>
              concat(element_at(t, j + 1), lit(" "), element_at(t, j + 2))))
            .otherwise(array().cast("array<string>"))).as("pair"),
          col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      // the 1-row argmax is the only driver materialization (bounded:
      // nMerges rows over the whole training run)
      val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .as[(String, Long)].collect()
      if (top.nonEmpty) {
        val (pair, cnt) = top.head
        val merged = pair.replace(" ", "")
        learned += ((rank, pair, merged, cnt))
        repr = repr.select(col("word"),
          trim(replace(concat(lit(" "), col("repr"), lit(" ")),
            lit(s" $pair "), lit(s" $merged "))).as("repr"),
          col("freq")).localCheckpoint()
      }
    }
    Trained(learned.result(), repr)
  }

  /** Learn `nMerges` BPE merges; returns (rank, pair, merged, cnt).
    * `localVocabLimit` exposes the tier cutoff (0 forces the
    * distributed loop — used by the equivalence test). */
  def learnMerges(docs: DataFrame, id: Column, text: Column,
      nMerges: Int = 4,
      localVocabLimit: Long = DefaultLocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, text, nMerges, localVocabLimit).merges
      .toDF("rank", "pair", "merged", "cnt")
      .select(col("rank").cast("int").as("rank"), col("pair"), col("merged"),
        col("cnt").cast(LongType).as("cnt"))
  }

  /** Tokenize the corpus under the learned merges: per document, the
    * whitespace word count and the subword (BPE) token count. The
    * corpus-sized token stream joins the vocab-sized repr table on the
    * word key — sort-merge pinned (corpus-derived build side must
    * never broadcast). Returns (doc_id, n_words, n_bpe). */
  def encode(docs: DataFrame, id: Column, text: Column,
      nMerges: Int = 4,
      localVocabLimit: Long = DefaultLocalVocabLimit): DataFrame = {
    val subTokens = train(docs, text, nMerges, localVocabLimit).vocab
      .select(col("word"), size(split(col("repr"), " ")).cast(LongType).as("n_sub"))
    val words = docs.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("word"))
    val enc = words.join(Joins.corpusSide(subTokens), Seq("word"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe"))
    docs.select(id.as("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).cast(LongType).as("n_words"),
        coalesce(col("n_bpe"), lit(0L)).cast(LongType).as("n_bpe"))
  }

  /** The shared DuckDB merge-loop chain over table `documents`: CTEs
    * w, r0, then (p_i, m_i, r_i) per merge — r_i carries (word, repr,
    * freq) so both the merge listing and the encode join can read it. */
  private def chainSql(nMerges: Int): String = {
    val head =
      raw"""WITH w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents) GROUP BY tok),
r0 AS (SELECT word, array_to_string(regexp_split_to_array(word, ''), ' ') AS repr, freq FROM w)"""
    val its = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT t[i] || ' ' || t[i+1] AS pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (SELECT regexp_split_to_array(repr, ' ') AS t, freq FROM r${i - 1}), LATERAL unnest(range(1, len(t))) AS u(i) GROUP BY 1),
m$i AS (SELECT $i AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
r$i AS (SELECT word, trim(replace(' ' || repr || ' ', ' ' || (SELECT pair FROM m$i) || ' ', ' ' || (SELECT merged FROM m$i) || ' ')) AS repr, freq FROM r${i - 1})"""
    }.mkString(",\n")
    s"$head,\n$its"
  }

  /** DuckDB replica of [[learnMerges]]. */
  def learnMergesOracleSql(nMerges: Int = 4): String = {
    val union = (1 to nMerges)
      .map(i => s"SELECT CAST(rank AS INTEGER) AS rank, pair, merged, cnt FROM m$i")
      .mkString(" UNION ALL ")
    s"${chainSql(nMerges)}\n$union"
  }

  /** DuckDB replica of [[encode]]. */
  def encodeOracleSql(nMerges: Int = 4): String =
    raw"""${chainSql(nMerges)},
tokd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
enc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(len(regexp_split_to_array(r.repr, ' '))) AS BIGINT) AS n_bpe FROM tokd t JOIN r$nMerges r ON t.word = r.word GROUP BY t.doc_id)
SELECT d.doc_id, CAST(coalesce(enc.n_words, 0) AS BIGINT) AS n_words, CAST(coalesce(enc.n_bpe, 0) AS BIGINT) AS n_bpe FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id"""
}
