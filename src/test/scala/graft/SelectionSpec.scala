package graft

import org.apache.spark.sql.functions._

import graft.ops.Selection
import graft.similarity.Ann

/** Unit tests for the data-selection operators (novelty, source gating,
  * weighted sampling, budget selection, prototypicality pruning). The
  * oracle gate re-checks each against DuckDB at sf0.01; these specs pin
  * the semantics on hand-built inputs where the expected output is
  * known by construction. */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  // ---- novelty ------------------------------------------------------------

  test("novelty: an exact copy of an earlier doc scores 0, fresh text 1") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // full copy of doc 1
      (3L, "zeta eta theta iota kappa"))      // fully fresh
      .toDF("doc_id", "text")
    val out = Selection.novelty(docs, col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Double]("novelty")).toSeq === Seq(1.0, 0.0, 1.0))
  }

  test("novelty: partial overlap counts only first-seen grams") {
    // doc 2 shares its first trigram window with doc 1 only
    val docs = Seq(
      (1L, "a b c x"),
      (2L, "a b c q r"))
      .toDF("doc_id", "text")
    val out = Selection.novelty(docs, col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id").collect()
    // doc2 trigrams: "a b c" (seen), "b c q", "c q r" → 2/3 novel
    assert(out(1).getAs[Long]("n_grams") === 3L)
    assert(out(1).getAs[Long]("n_novel") === 2L)
  }

  // ---- source stats / filter ---------------------------------------------

  test("sourceStats gates on mean quality and min docs; filter applies it") {
    val longText = (1 to 80).map(i => s"the and of to a in is it that for w$i").mkString(" ")
    val docs = (
      (1L to 25L).map(i => (i, longText, "good")) ++        // high quality, 25 docs
      (26L to 50L).map(i => (i, "!!!! ???? ;;;;", "bad")) ++ // punct-heavy, low quality
      (51L to 55L).map(i => (i, longText, "rare")))          // high quality but < 20 docs
      .toDF("doc_id", "text", "source")
    val stats = Selection.sourceStats(docs, col("doc_id"), col("text"),
        col("source"), minMeanQMicros = 7000L, minDocs = 20L)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Boolean]("keep")).toMap
    assert(stats === Map("good" -> true, "bad" -> false, "rare" -> false))
    val kept = Selection.sourceFilter(docs, col("doc_id"), col("text"),
        col("source"), 7000L, 20L)
      .select("source").distinct().as[String].collect().toSet
    assert(kept === Set("good"))
  }

  // ---- weighted sample ----------------------------------------------------

  test("weightedSample: deterministic, k rows, weights are token counts") {
    val docs = (1L to 200L)
      .map(i => (i, (1 to (i % 17 + 1).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Selection.weightedSample(docs, col("doc_id"), col("text"), k = 30).collect()
    val b = Selection.weightedSample(docs, col("doc_id"), col("text"), k = 30).collect()
    assert(a.length === 30)
    assert(a.map(_.getLong(0)).toSeq === b.map(_.getLong(0)).toSeq) // replayable
    val w = a.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight")).toMap
    w.foreach { case (id, wt) => assert(wt === id % 17 + 1) }
  }

  test("weightedSample: heavier docs are sampled preferentially") {
    // 100 heavy docs (64 tokens) vs 100 light docs (1 token): a
    // token-proportional sample of 50 should be mostly heavy.
    val docs = (
      (1L to 100L).map(i => (i, (1 to 64).map(j => s"w$j").mkString(" "))) ++
      (101L to 200L).map(i => (i, "x")))
      .toDF("doc_id", "text")
    val heavy = Selection.weightedSample(docs, col("doc_id"), col("text"), k = 50)
      .filter(col("doc_id") <= 100).count()
    assert(heavy >= 40, s"expected mostly heavy docs, got $heavy/50")
  }

  // ---- budget select ------------------------------------------------------

  test("budgetSelect: kept set is a prefix in (quality desc, id) order " +
      "and stops at the budget") {
    val good = (1 to 80).map(i => s"the and of to a in is it that for w$i").mkString(" ")
    val docs = (
      (1L to 10L).map(i => (i, good)) ++       // high quality, long
      (11L to 20L).map(i => (i, "!! ?? ;;")))  // low quality, short
      .toDF("doc_id", "text")
    val out = Selection.budgetSelect(docs, col("doc_id"), col("text"),
        budgetTokens = 2000L)
      .orderBy("start_tok").collect()
    // ordering: all high-quality docs precede all low-quality ones
    val orderedIds = out.map(_.getAs[Long]("doc_id")).toSeq
    assert(orderedIds.take(10).toSet === (1L to 10L).toSet)
    // greedy prefix: kept exactly while start_tok < budget, and the
    // kept rows form a prefix of the ordering
    out.foreach { r =>
      assert(r.getAs[Boolean]("kept") === (r.getAs[Long]("start_tok") < 2000L))
    }
    val keptFlags = out.map(_.getAs[Boolean]("kept")).toSeq
    assert(keptFlags === keptFlags.sorted.reverse) // true… then false…
    // offsets are contiguous: each start = previous start + previous n_tok
    out.sliding(2).foreach { case Array(p, n) =>
      assert(n.getAs[Long]("start_tok") ===
        p.getAs[Long]("start_tok") + p.getAs[Long]("n_tok"))
    }
  }

  // ---- duplicated-substring spans ----------------------------------------

  test("dupSpans: a shared substring at different offsets is found and " +
      "merged into one maximal interval per doc") {
    // 8 identical tokens embedded at offset 2 in doc 1 and offset 5 in
    // doc 2 — the fixed-grid spanDedup can miss offset-shifted copies;
    // the sliding window must not.
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"a b $shared c d"),
      (2L, s"p q r t u $shared v"))
      .toDF("doc_id", "text")
    val out = Selection.dupSpans(docs, col("doc_id"), col("text"), windowTokens = 6)
      .orderBy("doc_id").collect()
    assert(out.length === 2) // one merged interval per doc
    // doc 1: windows at pos 2,3,4 (each 6-token window inside the span)
    // merge to [2, 10); doc 2: [5, 13)
    assert(out(0).getAs[Long]("span_start") === 2L)
    assert(out(0).getAs[Long]("span_end") === 10L)
    assert(out(1).getAs[Long]("span_start") === 5L)
    assert(out(1).getAs[Long]("span_end") === 13L)
    assert(out.forall(_.getAs[Long]("n_windows") === 3L))
  }

  test("dupSpans: disjoint duplicated regions stay separate islands; " +
      "unique docs and short docs emit nothing") {
    val dupA = "a1 a2 a3 a4 a5 a6"
    val dupB = "b1 b2 b3 b4 b5 b6"
    val docs = Seq(
      (1L, s"$dupA x y z w v u t s r q $dupB"),
      (2L, s"$dupA m n o p e f g h i j $dupB"),
      (3L, "totally unique words only here nothing repeated anywhere else"),
      (4L, "tiny doc")) // shorter than one window
      .toDF("doc_id", "text")
    val out = Selection.dupSpans(docs, col("doc_id"), col("text"), windowTokens = 6)
    val byDoc = out.collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === Set(1L, 2L)) // docs 3, 4 clean
    assert(byDoc(1L).length === 2) // two separate islands
    assert(byDoc(2L).length === 2)
  }

  test("dupSpansClean: excises exactly the marked intervals and " +
      "reassembles the survivors in order") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"a b $shared c d"),
      (2L, s"p q r t u $shared v"),
      (3L, "all unique here nothing shared with any other document"))
      .toDF("doc_id", "text")
    val out = Selection.dupSpansClean(docs, col("doc_id"), col("text"),
        windowTokens = 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("removed_tok"),
         r.getAs[String]("clean_text"))).toMap
    // doc 1: interval [2,10) removed → "a b c d"
    assert(out(1L) === ((12L, 8L, "a b c d")))
    // doc 2: interval [5,13) removed → "p q r t u v"
    assert(out(2L) === ((14L, 8L, "p q r t u v")))
    // doc 3 untouched
    assert(out(3L)._2 === 0L)
    assert(out(3L)._3 === "all unique here nothing shared with any other document")
  }

  // ---- semantic decontamination ------------------------------------------

  test("semanticDecontaminate: an exact copy of an eval vector is " +
      "flagged at max_cos 1.0; eval rows are excluded from output") {
    val e0 = Array.tabulate(8)(i => (i + 1).toFloat)
    val far = Array.tabulate(8)(i => if (i % 2 == 0) -1f else 1f)
    val emb = Seq(
      (0L, e0), (1L, far.map(_ * 2f)),          // eval set
      (100L, e0),                                // exact copy of eval 0
      (101L, e0.map(_ * 3f)),                    // colinear → cos 1.0
      (102L, far.map(x => -x)))                  // anti-parallel to eval 1
      .toDF("vec_id", "embedding")
    val out = Selection.semanticDecontaminate(emb, col("vec_id"),
        col("embedding"), isEval = col("vec_id") < 10, threshold = 0.8)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("max_cos_micros"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out.keySet === Set(100L, 101L, 102L))
    assert(out(100L) === ((1000000L, true)))
    assert(out(101L) === ((1000000L, true)))
    assert(!out(102L)._2) // anti-parallel to one, near-orthogonal to other
  }

  // ---- naive bayes ---------------------------------------------------------

  test("NaiveBayes: separable vocabularies classify the held-out split " +
      "correctly; every held-out doc gets exactly one verdict") {
    import graft.ops.NaiveBayes
    // class A speaks apple-words, class B speaks boat-words; train on
    // doc_id % 5 != 0, classify the rest
    val docs = (1L to 200L).map { i =>
      val cls = if (i % 2 == 0) "A" else "B"
      val words = if (cls == "A") "apple apricot avocado almond acorn"
                  else "boat barge brig buoy bark"
      (i, s"$words $words", cls)
    }.toDF("doc_id", "text", "lang")
    val out = NaiveBayes.classify(docs, col("doc_id"), col("text"),
      col("lang"), isTrain = pmod(col("doc_id"), lit(5)) =!= 0)
    val rows = out.collect()
    assert(rows.length === 40) // the 20% held out
    assert(rows.forall(_.getAs[Boolean]("correct")),
      "separable classes must classify perfectly")
    // deterministic: same scores on re-run
    val again = NaiveBayes.classify(docs, col("doc_id"), col("text"),
      col("lang"), isTrain = pmod(col("doc_id"), lit(5)) =!= 0).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq)
  }

  // ---- logistic regression -------------------------------------------------

  test("Logistic: separable vocabularies converge to correct verdicts " +
      "corpus-wide; integer fit is deterministic") {
    import graft.ops.Logistic
    val docs = (1L to 200L).map { i =>
      val pos = i % 2 == 0
      val words = if (pos) "apple apricot avocado almond acorn"
                  else "boat barge brig buoy bark"
      (i, s"$words $words", pos)
    }.toDF("doc_id", "text", "y")
    val out = Logistic.classify(docs, col("doc_id"), col("text"),
      label = col("y"), isTrain = pmod(col("doc_id"), lit(5)) =!= 0)
    val rows = out.collect()
    assert(rows.length === 200) // EVERY doc scored, train included
    assert(rows.forall(_.getAs[Boolean]("correct")),
      "separable classes must classify perfectly after 3 GD passes")
    // scores live in micro units and saturate inside [0, 1e6]
    assert(rows.forall { r =>
      val p = r.getAs[Long]("p_micros"); p >= 0L && p <= 1000000L })
    // deterministic: identical z on re-run (integer-exact contract)
    val again = Logistic.classify(docs, col("doc_id"), col("text"),
      label = col("y"), isTrain = pmod(col("doc_id"), lit(5)) =!= 0).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
  }

  test("Logistic.fit + scoreColumn reproduce classify's p_micros exactly; " +
      "CorpusIngest classifier gate drops predicted-negative docs") {
    import graft.ops.Logistic
    val docs = (1L to 100L).map { i =>
      val pos = i % 2 == 0
      (i, if (pos) "good fine solid clean" else "junk spam noise garbage", pos)
    }.toDF("doc_id", "text", "y")
    val model = Logistic.fit(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("text"), col("y"))
    val served = docs.select(col("doc_id"),
        Logistic.scoreColumn(col("text"), model).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Logistic.classify(docs, col("doc_id"), col("text"),
        label = col("y"), isTrain = pmod(col("doc_id"), lit(5)) =!= 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("p_micros")).toMap
    assert(served === batch) // same artifact, same integer math
    // stream-landing gate: only predicted-positive texts land
    val tmp = tmpDir("graft_lringest")
    graft.streaming.CorpusIngest.ingestBatch(spark, tmp,
      docs.select("doc_id", "text"), batchId = 0L, minQuality = 0.0,
      logregModel = Some(model))
    val landed = graft.sinks.SnapshotStore.read(spark, tmp).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup collapses each identical text family to its min id:
    // positives (even ids) -> 2; negatives gated out entirely
    assert(landed === Set(2L), landed.toString)
  }

  test("sourceCalibrate: each source drops its OWN worst quartile — a " +
      "global threshold could not separate the overlapping ranges") {
    import graft.ops.Selection
    // source A: long high-quality docs; source B: short low-quality —
    // B's best docs score below A's cut, yet B must keep ~75% too
    val docs = (
      (1L to 40L).map(i => (i, ("www " * (40 + (i % 4).toInt * 8)).trim, "A")) ++
      (41L to 80L).map(i => (i, ("www " * (4 + (i % 4).toInt * 2)).trim, "B")))
      .toDF("doc_id", "text", "source")
    val out = Selection.sourceCalibrate(docs, col("doc_id"), col("text"),
        col("source")).collect()
    val bySource = out.groupBy(_.getString(1))
    // per-source cut differs (B's baseline is far lower)
    val cutA = bySource("A").head.getDouble(3)
    val cutB = bySource("B").head.getDouble(3)
    assert(cutA > cutB, s"cuts must calibrate per source: A=$cutA B=$cutB")
    // each source keeps roughly the top 3/4 (ties can widen the kept set)
    Seq("A", "B").foreach { s =>
      val rows = bySource(s)
      val kept = rows.count(_.getBoolean(4))
      assert(kept >= rows.length / 2 && kept < rows.length,
        s"$s kept $kept of ${rows.length}")
    }
    // every kept doc reaches its own source's cut; every dropped misses
    out.foreach { r =>
      assert(r.getBoolean(4) === (r.getLong(2).toDouble >= r.getDouble(3)))
    }
  }

  // ---- temperature mix ----------------------------------------------------

  test("temperatureMix: scarcest stratum rates 1.0, a 4x stratum rates 0.5") {
    val docs = (
      (1L to 10L).map(i => (i, "w1 w2 w3 w4", "rare")) ++      // 40 tokens
      (11L to 50L).map(i => (i, "w1 w2 w3 w4", "big")))        // 160 tokens
      .toDF("doc_id", "text", "lang")
    val out = Selection.temperatureMix(docs, col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")))
      .collect().map(r => r.getAs[String]("stratum") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("rate"),
         r.getAs[Long]("exp_tokens"))).toMap
    assert(out("rare") === ((40L, 1.0, 40L)))
    assert(out("big") === ((160L, 0.5, 80L))) // sqrt(40/160) = 0.5 exact
  }

  // ---- prototypicality pruning -------------------------------------------

  test("protoPrune: keeps ~keepFraction per cluster, dropping the " +
      "centroid-closest points") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Ann.protoPrune(emb, col("vec_id"), col("embedding"),
      keepFraction = 0.7, nCentroids = 8, kmeansIters = 3)
    assert(out.count() === emb.count()) // every vector gets a verdict
    val perCluster = out.groupBy("cent_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("k"),
        min(when(col("keep"), col("rk"))).as("min_kept_rk"),
        max(when(!col("keep"), col("rk"))).as("max_dropped_rk"))
      .collect()
    perCluster.foreach { r =>
      val n = r.getAs[Long]("n"); val k = r.getAs[Long]("k")
      // kept = n - floor(0.3 * n)
      assert(k === n - math.floor(0.3 * n).toLong)
      // the dropped ranks are exactly the head (most prototypical)
      if (k < n)
        assert(r.getAs[Int]("max_dropped_rk") < r.getAs[Int]("min_kept_rk"))
    }
  }

  test("sampleByKey: by-key consistency and nested cuts (SAMPLE 1/16 subset of 1/8)") {
    val df = spark.range(4000).select((col("id") % 400).as("k"), col("id"))
    val s8 = Selection.sampleByKey(df, col("k"), 1, 8)
    val s16 = Selection.sampleByKey(df, col("k"), 1, 16)
    // by-key: a kept key keeps ALL its rows (10 rows per key here)
    val perKey = s8.groupBy(col("k")).count().collect()
    assert(perKey.nonEmpty && perKey.forall(_.getAs[Long]("count") === 10L),
      "a sampled key must survive with its complete row set")
    // nesting: the 1/16 key set is a subset of the 1/8 key set
    val k8 = s8.select("k").distinct().collect().map(_.getLong(0)).toSet
    val k16 = s16.select("k").distinct().collect().map(_.getLong(0)).toSet
    assert(k16.subsetOf(k8), "SAMPLE 1/16 must nest inside SAMPLE 1/8")
    // selectivity sanity: ~1/8 of 400 keys, generous 3-sigma band
    assert(k8.size > 20 && k8.size < 90, s"kept ${k8.size} of 400 keys at 1/8")
    intercept[IllegalArgumentException] {
      Selection.sampleByKey(df, col("k"), 3, 2)
    }
  }

  test("sampleByKey: pure filter plan — no shuffle, no aggregate") {
    val df = spark.range(100).select(col("id").as("k"))
    val plan = Selection.sampleByKey(df, col("k"), 1, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"),
      s"SAMPLE must stay a per-row filter, got:\n$plan")
  }

  test("sampleByKeyOffset: K disjoint slices tile the key space exactly once") {
    val df = spark.range(2000).select((col("id") % 200).as("k"), col("id"))
    val slices = (0 until 4).map(i =>
      Selection.sampleByKeyOffset(df, col("k"), 1, 4, i, 4))
    val counts = slices.map(_.count())
    assert(counts.sum === 2000L, s"slices must re-add to the table: $counts")
    // pairwise disjoint on keys
    val keySets = slices.map(
      _.select("k").distinct().collect().map(_.getLong(0)).toSet)
    for (i <- 0 until 4; j <- (i + 1) until 4)
      assert((keySets(i) & keySets(j)).isEmpty, s"slices $i/$j overlap")
    assert(keySets.reduce(_ ++ _).size === 200)
    // OFFSET 0 slice == the plain SAMPLE of the same width
    val plain = Selection.sampleByKey(df, col("k"), 1, 4)
      .collect().map(_.toSeq).toSet
    assert(slices.head.collect().map(_.toSeq).toSet === plain)
  }

  test("sampleByKeyOffset: non-dyadic denominators tile with no boundary gaps") {
    // 3 and 7 don't divide 2^60 — independently-floored lo and width
    // would leave up to one hash value per slice boundary uncovered and
    // stop the last slice short of 2^60; the combined-rational hi makes
    // slice i's hi exactly slice i+1's lo and the last hi exactly 2^60.
    for (den <- Seq(3, 7)) {
      val bounds = (0 until den).map(i =>
        Selection.offsetBounds(1, den, i, den))
      for (i <- 0 until den - 1)
        assert(bounds(i)._2 === bounds(i + 1)._1, s"gap at slice $i of $den")
      assert(bounds.head._1 === 0L)
      assert(bounds.last._2 === (1L << 60), "last slice must reach 2^60")
    }
    val df = spark.range(3000).select((col("id") % 300).as("k"), col("id"))
    val counts = (0 until 3).map(i =>
      Selection.sampleByKeyOffset(df, col("k"), 1, 3, i, 3).count())
    assert(counts.sum === 3000L, s"3 slices must re-add to the table: $counts")
  }
}
