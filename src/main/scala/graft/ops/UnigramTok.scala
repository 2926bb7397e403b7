package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Unigram-LM subword tokenizer training + encoding — the SentencePiece
  * unigram model (Kudo 2018) in its deterministic Viterbi-EM form,
  * completing the tokenizer family next to [[Bpe]] (BPE alone doesn't
  * cover modern multilingual pipelines, which train unigram models).
  *
  * Algorithm (each step totally ordered so both engines replay it):
  *  1. SEED: the corpus reduces to the Heaps'-bounded (word, freq)
  *     table (one aggregate — the only corpus-scale pass); candidate
  *     pieces are ALL substrings of length 1..maxPieceLen of the vocab
  *     words, counted freq-weighted over every (overlapping) occurrence.
  *     The seed keeps the top `seedSize` multi-char pieces by
  *     (cnt desc, piece asc) plus EVERY single character (the coverage
  *     floor that guarantees the Viterbi lattice always has a path).
  *  2. EM (`emIters` rounds of hard/Viterbi EM — the deterministic
  *     variant of the paper's forward-backward E-step, chosen so the
  *     expected counts are exact integers both engines reproduce):
  *     E-step Viterbi-segments each VOCAB WORD (vocab-sized work, never
  *     corpus-sized) under the current piece log-probs; M-step recounts
  *     pieces freq-weighted from the segmentations, gives every single
  *     char +1 (so coverage never dies), drops multi-char pieces at
  *     zero, and re-normalizes.
  *  3. PRUNE to `vocabSize`: all single chars are kept; multi-char
  *     pieces keep the top (vocabSize − nChars) by (cnt desc, piece
  *     asc) — the count-criterion stand-in for the paper's
  *     likelihood-loss ranking, exact and replayable. Probabilities
  *     re-normalize over the kept set.
  *  4. ENCODE: Viterbi-segment each distinct corpus word under the
  *     final vocab; the corpus token stream joins the vocab-sized
  *     per-word piece counts on the word key.
  *
  * Viterbi DP (shared by all three implementations): best(0) = 0;
  * best(p) = max over l = 1..min(K, p) with substr(p−l+1, l) in vocab
  * of best(p−l) + lp(piece); ties prefer the LONGER piece (same end +
  * same length ⇒ same piece, so the argmax is total). Log-probs are
  * ln(cnt/total) quantized to BIGINT µ-units (floor-half-up), so every
  * DP comparison is exact integer arithmetic — the only cross-engine
  * float is the single ln() per piece, the same accepted last-ulp
  * class as [[UnigramLm.scoreDocs]] and BM25.
  *
  * Scale shape (the [[Bpe]] two-tier discipline): when the word vocab
  * fits the driver budget (`localVocabLimit`, the Bpe 2M-row
  * precedent), seed + EM + prune run LOCALLY over the collected table —
  * O(1) Spark jobs total — and the result re-distributes via
  * parallelize. Above the budget, the byte-equal DISTRIBUTED tier runs
  * every stage as DataFrame ops: the E-step builds each word's
  * candidate list (explode positions × lengths, join the piece table —
  * broadcast is CORRECT here because the piece table is bounded by the
  * seedSize/vocabSize constants, a model artifact, not data) and runs
  * the DP as one codegen'd `aggregate` lambda per word, so an EM round
  * is a constant number of vocab-sized jobs regardless of corpus size.
  * Byte-equality of the tiers is asserted by CurationOpsSpec (both use
  * java.lang.Math.log — Spark's `log` IS Math.log in the same JVM).
  * Encoding's corpus-side join carries the [[Joins.corpusSide]]
  * sort-merge pin (the corpus stream must never broadcast); the
  * vocab-sized piece side broadcasts by construction.
  *
  * Reference context: the reference pipeline has no tokenizer — this
  * extends the LLM-training-data surface (SURVEY.md §2.10 extension
  * family) alongside Bpe/UnigramLm/TextFunctions.
  */
object UnigramTok {

  /** Same driver-collect budget as [[Bpe.DefaultLocalVocabLimit]]. */
  val DefaultLocalVocabLimit: Long = Bpe.DefaultLocalVocabLimit

  private def lpQuant(cnt: Long, total: Long): Long =
    math.floor(math.log(cnt.toDouble / total.toDouble) * 1e6 + 0.5).toLong

  // ------------------------------------------------------------ local tier

  /** The shared DP; returns the segmentation (order irrelevant to the
    * counting callers). Coverage: single chars are never pruned, so a
    * candidate exists at every position. */
  private def viterbi(w: String, lp: collection.Map[String, Long],
      k: Int): List[String] = {
    val n = w.length
    val best = new Array[Long](n + 1)
    val choice = new Array[Int](n + 1)
    var p = 1
    while (p <= n) {
      var bs = Long.MinValue
      var bl = 0
      var l = 1
      val lMax = math.min(k, p)
      while (l <= lMax) {
        lp.get(w.substring(p - l, p)) match {
          case Some(q) =>
            val s = best(p - l) + q
            if (s > bs || (s == bs && l > bl)) { bs = s; bl = l }
          case None =>
        }
        l += 1
      }
      best(p) = bs; choice(p) = bl
      p += 1
    }
    var parts = List.empty[String]
    var i = n
    while (i > 0) { val l = choice(i); parts ::= w.substring(i - l, i); i -= l }
    parts
  }

  private def normalize(cnt: collection.Map[String, Long]): Map[String, Long] = {
    val total = cnt.valuesIterator.sum
    cnt.iterator.map { case (p, c) => p -> lpQuant(c, total) }.toMap
  }

  /** Driver-side seed + EM + prune over the collected (word, freq)
    * table. Returns (piece, cnt, lp_q) rows. */
  private def trainLocal(words: Array[(String, Long)], k: Int,
      seedSize: Int, vocabSize: Int, emIters: Int): Seq[(String, Long, Long)] = {
    import scala.collection.mutable
    val cnt = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      var p = 0
      while (p < w.length) {
        var l = 1
        val lMax = math.min(k, w.length - p)
        while (l <= lMax) {
          val s = w.substring(p, p + l)
          cnt.update(s, cnt.getOrElse(s, 0L) + f)
          l += 1
        }
        p += 1
      }
    }
    val chars: Array[String] = cnt.keysIterator.filter(_.length == 1).toArray
    def topMulti(m: collection.Map[String, Long], n: Int): Array[(String, Long)] =
      m.iterator.filter(_._1.length >= 2).toArray
        .sortWith { case ((pa, ca), (pb, cb)) =>
          // ties by unsigned UTF-8 bytes, the engines' ORDER BY
          if (ca != cb) ca > cb
          else UTF8String.fromString(pa).compareTo(UTF8String.fromString(pb)) < 0
        }.take(math.max(0, n))
    var vocab: collection.Map[String, Long] =
      (chars.map(c => c -> cnt(c)) ++ topMulti(cnt, seedSize)).toMap
    var lp = normalize(vocab)
    var it = 0
    while (it < emIters) {
      val nc = mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        viterbi(w, lp, k).foreach(p => nc.update(p, nc.getOrElse(p, 0L) + f))
      }
      chars.foreach(c => nc.update(c, nc.getOrElse(c, 0L) + 1L))
      vocab = nc
      lp = normalize(vocab)
      it += 1
    }
    val kept = chars.map(c => c -> vocab(c)) ++
      topMulti(vocab, vocabSize - chars.length)
    val total = kept.map(_._2).sum
    kept.toSeq.map { case (p, c) => (p, c, lpQuant(c, total)) }
  }

  // ------------------------------------------------- distributed fallback

  /** The DP as a codegen'd lambda pair over the candidate array:
    * forward pass carries (best[], choice[]), backward pass walks
    * choice[] emitting the segment pieces. Identical integer math to
    * [[viterbi]]; `array_max` over struct(s, l) is exactly the
    * (score desc, length desc) argmax and is order-independent, so the
    * nondeterministic collect_list order is harmless. */
  private def segmented(cands: DataFrame): DataFrame = {
    val wl = length(col("word"))
    val fwd = aggregate(
      sequence(lit(1), wl),
      struct(array(lit(0L)).as("best"),
        array().cast("array<int>").as("choice")),
      (acc, p) => {
        val scored = transform(
          filter(col("cands"), c => c("p") === p),
          c => struct(
            (element_at(acc("best"), (p - c("l") + lit(1)).cast("int")) +
              c("lp")).as("s"),
            c("l").cast("int").as("l")))
        val mx = array_max(scored)
        struct(concat(acc("best"), array(mx("s"))).as("best"),
          concat(acc("choice"), array(mx("l"))).as("choice"))
      })
    val withDp = cands.withColumn("choice", fwd("choice"))
    val back = aggregate(
      sequence(lit(1), wl),
      struct(wl.cast("int").as("i"),
        array().cast("array<string>").as("parts")),
      (acc, _) => {
        val i = acc("i")
        val l = element_at(col("choice"), i)
        when(i > lit(0), struct((i - l).as("i"),
          concat(acc("parts"),
            array(col("word").substr(i - l + lit(1), l))).as("parts")))
          .otherwise(acc)
      })
    withDp.select(col("word"), col("freq"), back("parts").as("parts"))
  }

  /** Per-word Viterbi lattice candidates under `pieces` (piece, lp_q):
    * every (end-position p, length l ≤ k) whose substring is in the
    * piece table, collected to one array per word. `pieces` is bounded
    * by the seedSize/vocabSize constants — a model artifact — so
    * broadcasting it is the correct 100 TB posture (the CORPUS-derived
    * relations in this file never broadcast). */
  private def candidatesK(words: DataFrame, pieces: DataFrame, k: Int): DataFrame =
    words
      .withColumn("p", explode(sequence(lit(1), length(col("word")))))
      .withColumn("l", explode(sequence(lit(1), least(lit(k), col("p")))))
      .withColumn("piece", col("word").substr(col("p") - col("l") + 1, col("l")))
      .join(broadcast(pieces.select(col("piece"), col("lp_q"))), Seq("piece"))
      .groupBy(col("word"), col("freq"))
      .agg(collect_list(struct(col("p"), col("l"), col("lp_q").as("lp")))
        .as("cands"))

  private def withLp(counts: DataFrame): DataFrame = {
    val total = counts.agg(sum(col("cnt")).cast(LongType).as("t"))
    counts.crossJoin(broadcast(total))
      .select(col("piece"), col("cnt"),
        floor(log(col("cnt").cast("double") / col("t").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast(LongType).as("lp_q"))
  }

  /** Distributed seed + EM + prune (vocab-unbounded; byte-equal to
    * [[trainLocal]]). Every relation here is vocab- or constant-
    * bounded; the corpus appears only through the (word, freq) input. */
  private def trainDistributed(words: DataFrame, k: Int, seedSize: Int,
      vocabSize: Int, emIters: Int): DataFrame = {
    val sub = words
      .withColumn("p", explode(sequence(lit(1), length(col("word")))))
      .withColumn("l", explode(sequence(lit(1),
        least(lit(k), length(col("word")) - col("p") + 1))))
      .select(col("word").substr(col("p"), col("l")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("cnt"))
      .localCheckpoint()
    val chars = sub.filter(length(col("piece")) === 1).select("piece", "cnt")
    val seedMulti = sub.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
    var vocab = withLp(chars.unionAll(seedMulti)).localCheckpoint()
    var it = 0
    while (it < emIters) {
      val counts = segmented(candidatesK(words, vocab, k))
        .select(col("freq"), explode(col("parts")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("cnt"))
      val floored = counts
        .join(chars.select(col("piece"), lit(1).as("is_char")), Seq("piece"), "full")
        .select(col("piece"),
          (coalesce(col("cnt"), lit(0L)) +
            when(col("is_char").isNotNull, 1L).otherwise(0L)).as("cnt"))
      vocab = withLp(floored).localCheckpoint()
      it += 1
    }
    // prune: the row_number window is a single partition by design —
    // it ranks the multi-char PIECE table (bounded by the seed/EM
    // piece space, a model-sized constant), never corpus rows
    val nch = chars.agg(count(lit(1)).as("nch"))
    val multiKept = vocab.filter(length(col("piece")) >= 2)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("piece").asc)))
      .crossJoin(broadcast(nch))
      .filter(col("rn") <= greatest(lit(0), lit(vocabSize) - col("nch")))
      .select("piece", "cnt")
    val keptChars = vocab.filter(length(col("piece")) === 1).select("piece", "cnt")
    withLp(keptChars.unionAll(multiKept))
  }

  // ------------------------------------------------------------ public API

  /** Corpus (word, freq) table. Empty tokens (the "" a fully-blank
    * text splits to) are excluded HERE and in [[encode]]'s stream so
    * all three implementations agree on adversarial input: the local
    * tier's Viterbi of "" is a harmless no-op, but the distributed
    * tier's `sequence(1, length(word))` on a zero-length word yields
    * [1, 0] (Spark infers step −1 when start > stop), not an empty
    * lattice — filtering the token is the honest contract anyway (a
    * blank document has no words). */
  private def wordFreqs(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextFunctions.tokens(text)).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("freq"))

  /** Final piece table (piece, cnt, lp_q): cnt = last-EM count of the
    * kept piece, lp_q = ln(cnt/total-over-kept) in µ-units. */
  def trainPieces(docs: DataFrame, id: Column, text: Column,
      maxPieceLen: Int = 4, seedSize: Int = 48, vocabSize: Int = 32,
      emIters: Int = 2,
      localVocabLimit: Long = DefaultLocalVocabLimit): DataFrame = {
    require(maxPieceLen >= 1 && seedSize >= 0 && vocabSize >= 1 && emIters >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFreqs(docs, text).localCheckpoint()
    if (words.count() <= localVocabLimit) {
      val collected = words.collect().map(r => (r.getString(0), r.getLong(1)))
      val out = trainLocal(collected, maxPieceLen, seedSize, vocabSize, emIters)
      val sc = spark.sparkContext
      // re-distribute (Bpe precedent: never leave a corpus-derived
      // result as a LocalRelation literal)
      sc.parallelize(out, math.max(1, math.min(sc.defaultParallelism, out.length)))
        .toDF("piece", "cnt", "lp_q")
    } else trainDistributed(words, maxPieceLen, seedSize, vocabSize, emIters)
  }

  /** Per-document encoding ledger under the trained vocab: whitespace
    * word count and unigram-LM subword piece count. The corpus token
    * stream joins the vocab-sized per-word segmentation on the word
    * key — sort-merge pinned (corpus side must never broadcast). */
  def encode(docs: DataFrame, id: Column, text: Column,
      maxPieceLen: Int = 4, seedSize: Int = 48, vocabSize: Int = 32,
      emIters: Int = 2,
      localVocabLimit: Long = DefaultLocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordFreqs(docs, text).localCheckpoint()
    val perWord: DataFrame =
      if (words.count() <= localVocabLimit) {
        val collected = words.collect().map(r => (r.getString(0), r.getLong(1)))
        val pieces = trainLocal(collected, maxPieceLen, seedSize, vocabSize, emIters)
        val lp = pieces.map { case (p, _, q) => p -> q }.toMap
        val segs = collected.map { case (w, _) =>
          (w, viterbi(w, lp, maxPieceLen).length.toLong)
        }.toSeq
        val sc = spark.sparkContext
        sc.parallelize(segs,
          math.max(1, math.min(sc.defaultParallelism, segs.length)))
          .toDF("word", "n_sub")
      } else {
        val vocab = trainDistributed(words, maxPieceLen, seedSize, vocabSize,
          emIters).localCheckpoint()
        segmented(candidatesK(words, vocab, maxPieceLen))
          .select(col("word"), size(col("parts")).cast(LongType).as("n_sub"))
      }
    val stream = docs.select(id.as("doc_id"),
        explode(TextFunctions.tokens(text)).as("word"))
      .filter(length(col("word")) >= 1)
    val enc = stream.join(Joins.corpusSide(perWord), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
    docs.select(id.as("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).cast(LongType).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).cast(LongType).as("n_pieces"))
  }

  /** [[encode]] under a GIVEN piece table (piece, cnt, lp_q) instead
    * of retraining — the stream-serving half of the refresh loop:
    * segment this batch's distinct words once against the vocab
    * (vocab-sized lattice work), then the batch token stream joins the
    * per-word piece counts. The vocab never trains here, so a
    * micro-batch pays encode cost only. */
  def encodeWithVocab(docs: DataFrame, id: Column, text: Column,
      vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val words = wordFreqs(docs, text)
    val perWord = segmented(candidatesK(words, vocab, maxPieceLen))
      .select(col("word"), size(col("parts")).cast(LongType).as("n_sub"))
    val stream = docs.select(id.as("doc_id"),
        explode(TextFunctions.tokens(text)).as("word"))
      .filter(length(col("word")) >= 1)
    val enc = stream.join(Joins.corpusSide(perWord), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
    docs.select(id.as("doc_id")).join(enc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).cast(LongType).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).cast(LongType).as("n_pieces"))
  }

  /** Versioned vocab publication — the tokenizer half of the
    * batch-trained / stream-served refresh loop ([[graft.ops.Dsir
    * .trainModel]]'s discipline, persisted): [[trainPieces]] over the
    * training corpus lands atomically in a [[graft.sinks
    * .SnapshotStore]] at `storeBase`, stamped with `version`. Readers
    * ([[currentVocab]]) always see a complete vocab — the commit is an
    * atomic manifest swap, never a partial file set — so a streaming
    * job re-reading the store each micro-batch swaps models WITHOUT
    * restart, and the version column says which model scored which
    * batch. Prior versions remain RESTORE-able from the manifest log. */
  def publishVocab(spark: org.apache.spark.sql.SparkSession,
      storeBase: String, docs: DataFrame, id: Column, text: Column,
      version: Long, maxPieceLen: Int = 4, seedSize: Int = 48,
      vocabSize: Int = 32, emIters: Int = 2): Unit =
    graft.sinks.SnapshotStore.commitReplace(spark, storeBase,
      trainPieces(docs, id, text, maxPieceLen, seedSize, vocabSize, emIters)
        .withColumn("version", lit(version)))

  /** The currently-published (version, pieces) — None before the first
    * [[publishVocab]]. */
  def currentVocab(spark: org.apache.spark.sql.SparkSession,
      storeBase: String): Option[(Long, DataFrame)] =
    graft.sinks.SnapshotStore.read(spark, storeBase).map { df =>
      val v = df.agg(max(col("version"))).head.getLong(0)
      (v, df.drop("version"))
    }

  // ------------------------------------------------------------ oracle SQL

  /** One Viterbi DP + backtrace replay in DuckDB: recursive CTE `dp$sfx`
    * advances one position per iteration carrying the (best, choice)
    * lists; `seg$sfx` walks choice[] back to the segment list. The
    * lateral argmax ORDER BY (s DESC, l DESC) is the engine tie-break
    * verbatim. `vocabCte` must expose (piece, lp). */
  private def dpCtes(sfx: String, vocabCte: String, k: Int): String =
    s"""dp$sfx AS (
  SELECT word, freq, 0 AS i, [CAST(0 AS BIGINT)] AS best, CAST([] AS INTEGER[]) AS choice FROM w
  UNION ALL
  SELECT d.word, d.freq, d.i + 1, list_append(d.best, pk.s), list_append(d.choice, pk.l)
  FROM dp$sfx d, LATERAL (
    SELECT cand.s AS s, cand.l AS l FROM (
      SELECT d.best[d.i + 2 - CAST(tl.l AS INTEGER)] + v.lp AS s, CAST(tl.l AS INTEGER) AS l
      FROM unnest(range(1, least($k, d.i + 1) + 1)) AS tl(l)
      JOIN $vocabCte v ON v.piece = substr(d.word, d.i + 2 - CAST(tl.l AS INTEGER), CAST(tl.l AS INTEGER))
    ) cand ORDER BY cand.s DESC, cand.l DESC LIMIT 1
  ) pk
  WHERE d.i < len(d.word)
),
seg$sfx AS (
  SELECT word, freq, CAST(len(word) AS INTEGER) AS j, CAST([] AS VARCHAR[]) AS parts, choice FROM dp$sfx WHERE i = len(word)
  UNION ALL
  SELECT word, freq, j - choice[j], list_append(parts, substr(word, j - choice[j] + 1, choice[j])), choice
  FROM seg$sfx WHERE j > 0
)"""

  private def lpCte(name: String, src: String): String =
    s"$name AS (SELECT piece, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE)/CAST(tt.t AS DOUBLE))*1000000.0 + 0.5) AS BIGINT) AS lp FROM $src, (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM $src) tt)"

  /** The full training replay: CTE chain ending in `vf` (piece, cnt,
    * lp) — seed, `emIters` Viterbi-EM rounds, prune + renormalize. */
  private def chainCtes(k: Int, seedSize: Int, vocabSize: Int,
      emIters: Int, trainWhere: String = "TRUE"): String = {
    val head =
      raw"""WITH RECURSIVE
w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents WHERE $trainWhere) WHERE tok <> '' GROUP BY tok),
sub AS (SELECT substr(word, CAST(tp.p AS INTEGER), CAST(tl.l AS INTEGER)) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM w, LATERAL unnest(range(1, len(word) + 1)) AS tp(p), LATERAL unnest(range(1, $k + 1)) AS tl(l)
  WHERE tp.p + tl.l - 1 <= len(word) GROUP BY 1),
chars AS (SELECT piece, cnt FROM sub WHERE len(piece) = 1),
v0c AS (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE len(piece) >= 2 ORDER BY cnt DESC, piece ASC LIMIT $seedSize)),
${lpCte("v0", "v0c")}"""
    val ems = (1 to emIters).map { i =>
      s"""${dpCtes(s"$i", s"v${i - 1}", k)},
cnt$i AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (SELECT freq, unnest(parts) AS piece FROM seg$i WHERE j = 0) GROUP BY 1),
v${i}c AS (SELECT coalesce(c.piece, ch.piece) AS piece, coalesce(c.cnt, 0) + CASE WHEN ch.piece IS NOT NULL THEN 1 ELSE 0 END AS cnt FROM cnt$i c FULL JOIN chars ch ON c.piece = ch.piece),
${lpCte(s"v$i", s"v${i}c")}"""
    }.mkString(",\n")
    val prune =
      s"""prm AS (SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn FROM v${emIters}c WHERE len(piece) >= 2),
prc AS (SELECT piece, cnt FROM prm, (SELECT count(*) AS nch FROM chars) cc WHERE prm.rn <= greatest(0, $vocabSize - cc.nch)
  UNION ALL SELECT piece, cnt FROM v${emIters}c WHERE len(piece) = 1),
${lpCte("vf", "prc")}"""
    s"$head,\n$ems,\n$prune"
  }

  /** DuckDB replica of [[trainPieces]] over table `documents`. */
  def trainOracleSql(maxPieceLen: Int = 4, seedSize: Int = 48,
      vocabSize: Int = 32, emIters: Int = 2): String =
    s"""${chainCtes(maxPieceLen, seedSize, vocabSize, emIters)}
SELECT piece, cnt, lp AS lp_q FROM vf"""

  /** DuckDB replica of [[encode]] over table `documents`. */
  def encodeOracleSql(maxPieceLen: Int = 4, seedSize: Int = 48,
      vocabSize: Int = 32, emIters: Int = 2): String =
    encodeScopedOracleSql("TRUE", "TRUE", version = None,
      maxPieceLen, seedSize, vocabSize, emIters)

  /** [[encodeOracleSql]] with independent TRAIN and ENCODE scopes over
    * `documents`, optionally stamping a vocab `version` column — one
    * phase of the refresh replay: train the chain on `trainWhere`
    * rows, encode the `encodeWhere` rows under it. The refresh oracle
    * UNION ALLs one such phase per published model (each phase is a
    * self-contained parenthesized WITH, so CTE names never collide). */
  def encodeScopedOracleSql(trainWhere: String, encodeWhere: String,
      version: Option[Long], maxPieceLen: Int = 4, seedSize: Int = 48,
      vocabSize: Int = 32, emIters: Int = 2): String = {
    val vCol = version.fold("")(v => s", CAST($v AS BIGINT) AS vocab_version")
    raw"""${chainCtes(maxPieceLen, seedSize, vocabSize, emIters, trainWhere)},
${dpCtes("E", "vf", maxPieceLen)},
wenc AS (SELECT word, CAST(len(parts) AS BIGINT) AS n_sub FROM segE WHERE j = 0),
tokd AS (SELECT doc_id, word FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents WHERE $encodeWhere) WHERE word <> ''),
enc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(e.n_sub) AS BIGINT) AS n_pieces FROM tokd t JOIN wenc e ON t.word = e.word GROUP BY t.doc_id)
SELECT d.doc_id, CAST(coalesce(enc.n_words, 0) AS BIGINT) AS n_words, CAST(coalesce(enc.n_pieces, 0) AS BIGINT) AS n_pieces$vCol FROM (SELECT doc_id FROM documents WHERE $encodeWhere) d LEFT JOIN enc ON d.doc_id = enc.doc_id"""
  }

  /** DuckDB replica of the refresh loop: one [[encodeScopedOracleSql]]
    * phase per (trainWhere, encodeWhere, version), UNION ALLed. */
  def refreshOracleSql(phases: Seq[(String, String, Long)],
      maxPieceLen: Int = 4, seedSize: Int = 48, vocabSize: Int = 32,
      emIters: Int = 2): String =
    phases.map { case (tw, ew, v) =>
      s"(${encodeScopedOracleSql(tw, ew, Some(v), maxPieceLen, seedSize, vocabSize, emIters)})"
    }.mkString("\nUNION ALL\n")
}
