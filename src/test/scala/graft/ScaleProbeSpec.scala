package graft

/** Scale-growth invariants for the heavy rungs, measured — not
  * claimed. Each rung runs at 1× and 10× synthetic input via the SAME
  * code path as [[ScaleProbe]] and must show:
  *
  *  1. zero spill at both sizes (partitions fit execution memory);
  *  2. shuffle-write growth ≤ ~linear in the input (10× data may move
  *     at most 30× the bytes — a quadratic rung would show ~100×);
  *  3. bounded driver materialization: total task-result bytes shipped
  *     to the driver stay under an ABSOLUTE cap at the big size, so no
  *     collect() anywhere in a rung scales with the corpus.
  *
  * Sizes are CI-scale (the committed SCALE.md carries the 10×–100×
  * [[ScaleProbe]] evidence); the INVARIANTS, not the wall times, are
  * what transfers to a 1000-executor cluster.
  *
  * Profiles: tests that evaluate the 10× rung set (`big`) carry the
  * [[Slow]] tag — the default `sbt test` skips them (and therefore
  * never computes `big`, the suite's dominant wall-time cost) while
  * keeping every 1× assertion live; `sbt full` runs everything.
  * Growth-RATIO invariants inherently need both scales, so they are
  * Slow by construction; point-in-time invariants are split 1×/10× so
  * the default profile keeps their 1× half.
  */
class ScaleProbeSpec extends SparkSpec {

  private val MB = 1048576L

  /** (docsN, eventsN, embN) at 1×. */
  private val base = (20000L, 1000000L, 30000L)

  private lazy val small =
    ScaleProbe.run(spark, base._1, base._2, base._3)
      .map { case (n, r, m) => n -> ((r, m)) }.toMap
  private lazy val big =
    ScaleProbe.run(spark, base._1 * 10, base._2 * 10, base._3 * 10)
      .map { case (n, r, m) => n -> ((r, m)) }.toMap

  private def rungNames = small.keySet

  test("all rungs produce output at 1x") {
    // NOTE: several rungs have FIXED-size outputs by design (funnel: one
    // row per step; ANN: queries×k) — assert non-empty, not growth
    rungNames.foreach { n => assert(small(n)._1 > 0, s"$n empty at 1x") }
  }

  test("all rungs produce output at 10x", Slow) {
    rungNames.foreach { n => assert(big(n)._1 > 0, s"$n empty at 10x") }
  }

  test("no rung spills at 1x") {
    rungNames.foreach { n =>
      assert(small(n)._2.spillBytes === 0L, s"$n spilled at 1x")
    }
  }

  test("no rung spills at 10x", Slow) {
    rungNames.foreach { n =>
      assert(big(n)._2.spillBytes === 0L,
        s"$n spilled ${big(n)._2.spillBytes} bytes at 10x")
    }
  }

  test("shuffle volume grows at most ~linearly (10x data => <= 30x bytes)", Slow) {
    rungNames.foreach { n =>
      val s = math.max(small(n)._2.shuffleWriteBytes, MB) // floor: tiny-base noise
      val b = big(n)._2.shuffleWriteBytes
      assert(b <= 30L * s,
        s"$n shuffle grew ${b.toDouble / s}x on 10x input " +
          s"(${small(n)._2.shuffleWriteBytes} -> $b bytes) — super-linear")
    }
  }

  test("bpe_train: driver round-trips are O(1) in merges (two-tier loop)") {
    // 64 merges learned; the local tier must cost a fixed handful of
    // jobs (vocab checkpoint + count + collect + the forced result) —
    // the distributed loop would be >= 2 jobs PER merge (~128 here),
    // the r6-flagged latency class.
    val s = small("bpe_train")._2.jobs
    assert(s <= 12L, s"bpe_train used $s jobs at 1x — merge loop not batched")
  }

  test("bpe_train: round-trips stay flat on 10x input", Slow) {
    // flat across the 10x input: round-trips depend on neither corpus
    // nor merges
    val b = big("bpe_train")._2.jobs
    assert(b <= 12L, s"bpe_train used $b jobs at 10x — merge loop not batched")
  }

  test("unigram_train: driver round-trips are O(1) in EM rounds (two-tier loop)") {
    // seed + 2 EM rounds + prune over a 2000-word vocab in the local
    // tier: word-freq checkpoint + count + collect + the forced
    // parallelize write — flat in corpus size AND in EM rounds (the
    // distributed fallback would spend several vocab-sized jobs per
    // round; the local tier spends zero)
    val s = small("unigram_train")._2.jobs
    assert(s <= 12L, s"unigram_train used $s jobs at 1x — EM loop not local")
  }

  test("unigram_train: round-trips stay flat on 10x input", Slow) {
    val b = big("unigram_train")._2.jobs
    assert(b <= 12L, s"unigram_train used $b jobs at 10x — EM loop not local")
  }

  test("driver materialization stays bounded at 10x (no corpus-sized collect)", Slow) {
    // resultBytes has a plan-width × task-count noise floor (per-task
    // accumulator/metric payload), so the invariant is GROWTH, not an
    // absolute: a corpus-proportional collect would show ~10× bytes on
    // 10× input; bounded collects (centroids, stats rows, counts) and
    // metric payloads stay ~flat because task counts are partition-
    // bound, not row-bound.
    // dict_closure is the one DOCUMENTED exception: its driver bytes
    // ARE the dictionary broadcast collect — linear in dictionary
    // size (which the rung grows 10×), bounded by the model-size cap,
    // never by the corpus. It gets the absolute-cap test below.
    rungNames.filterNot(_ == "dict_closure").foreach { n =>
      val s = math.max(small(n)._2.resultBytes, 4L * MB) // tiny-base floor
      val b = big(n)._2.resultBytes
      assert(b <= 3L * s,
        s"$n driver-result bytes grew ${b.toDouble / s}x on 10x input " +
          s"(${small(n)._2.resultBytes} -> $b) — corpus-proportional collect")
    }
  }

  test("tdigest_sketch: shuffle stays FLAT at the grid size on 10x input", Slow) {
    // the sketch tier's defining property — stronger than the generic
    // <= 30x linearity: the only shuffled bytes are the map-side-
    // combined grid histogram (<= 29k counters), so 10x input may move
    // at most ~the same bytes (2x allows partial-combine slack)
    val s = math.max(small("tdigest_sketch")._2.shuffleWriteBytes, MB)
    val b = big("tdigest_sketch")._2.shuffleWriteBytes
    assert(b <= 2L * s,
      s"tdigest_sketch shuffle grew ${b.toDouble / s}x on 10x input " +
        s"(${small("tdigest_sketch")._2.shuffleWriteBytes} -> $b bytes) — " +
        "the grid histogram stopped combining map-side")
  }

  /** Approximation-quality floors: the recall rungs return BASIS
    * POINTS against planted ground truth (ScaleData.plantedEmbeddings
    * / the docs generator's id%5==1 families). Values are fully
    * deterministic per input size, so the floors are real regression
    * tripwires, set with slack under the measured curve (1×/10×:
    * brute 10000/10000, lsh 9410/9410, ivf 10000/9800,
    * ivfpq 8140/6350, minhash 10000/9998, simhash 6777/6753,
    * simhash-precision 10000/10000). */
  private val recallFloors = Seq(
    "ann_recall_lsh" -> 9000L,
    "ann_recall_ivf" -> 9000L,
    "ann_recall_ivfpq" -> 5500L,
    "ann_recall_ivfpq_probe4" -> 5500L,
    "ann_recall_ivfpq_m8" -> 9000L,
    "dedup_recall_minhash" -> 9500L,
    "dedup_recall_simhash" -> 6000L,
    "dedup_precision_simhash" -> 9500L)

  test("approximation quality: recall/precision floors hold at 1x") {
    recallFloors.foreach { case (n, floor) =>
      assert(small(n)._1 >= floor,
        s"$n recall ${small(n)._1} bp under the $floor floor at 1x")
    }
    // the brute path is the sanity anchor: EXACT top-k must find every
    // planted neighbor, or the planted truth itself is broken and the
    // approximate floors above are measuring against noise
    assert(small("ann_recall_brute")._1 === 10000L)
  }

  test("approximation quality: recall/precision floors hold at 10x", Slow) {
    recallFloors.foreach { case (n, floor) =>
      assert(big(n)._1 >= floor,
        s"$n recall ${big(n)._1} bp under the $floor floor at 10x")
    }
    assert(big("ann_recall_brute")._1 === 10000L)
  }

  test("dict_closure: jobs flat, zero shuffle, driver bytes under the model-size cap at 1x") {
    assertDictClosure("1x", small("dict_closure")._2)
  }

  test("dict_closure: jobs flat, zero shuffle, driver bytes under the model-size cap at 10x", Slow) {
    assertDictClosure("10x", big("dict_closure")._2)
  }

  /** The closure's only driver cost is the dictionary broadcast —
    * capped at 2M keys by the rung (the range_hashed/hierarchy
    * contract: dictionaries are RAM-resident model-sized tables), so
    * the invariant is an ABSOLUTE bound plus flat round-trips, not a
    * growth ratio over a deliberately growing dictionary. */
  private def assertDictClosure(label: String, m: ScaleMetrics.Measured): Unit = {
    assert(m.jobs <= 6L, s"dict_closure $label used ${m.jobs} jobs — " +
      "the 12 hops must fold into one chained broadcast stage")
    assert(m.shuffleWriteBytes <= 4L * MB,
      s"dict_closure $label shuffled ${m.shuffleWriteBytes} bytes — " +
        "nothing in the closure may shuffle")
    assert(m.resultBytes <= 40L * MB,
      s"dict_closure $label driver bytes ${m.resultBytes} exceed the " +
        "2M-key model-size cap's broadcast cost")
  }
}
