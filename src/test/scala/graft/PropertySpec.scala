package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.Engagement
import graft.ops.Dedup

/** Property-based invariants (SURVEY §5) over ScalaCheck generators:
  * generated cases are batched into one DataFrame per property so Spark
  * evaluates them in a single job rather than one per sample. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val eventTypes =
    Gen.oneOf("play", "pause", "finish", "click", "view", "PLAY", "Finish", "other")
  private val durations =
    Gen.option(Gen.chooseNum(0L, 3600000L)).map(_.map(java.lang.Long.valueOf).orNull)

  test("property: engagement score is in [0, 7.5] and never null") {
    val cases = Gen.listOfN(300, Gen.zip(eventTypes, durations)).sample.get
    val df = cases.map { case (et, d) => (et, Option(d).map(_.toLong)) }.toDF("et", "d")
    val scores = df.select(Engagement.engagementScore(col("et"), col("d"))).collect()
    assert(scores.forall(!_.isNullAt(0)))
    // 0.0 is reachable: a 1 ms duration gives factor ln(1.001) ≈ 0.001,
    // and round(base*factor, 2) = 0.0 — true of the reference's
    // Math.round formulation as well (:332–337)
    assert(scores.forall { r => val s = r.getDouble(0); s >= 0 && s <= 7.5 })
  }

  test("property: pct is null iff duration null or length <= 0; else in [0, ∞)") {
    val lens = Gen.option(Gen.chooseNum(-10, 5400)).map(_.map(Integer.valueOf).orNull)
    val cases = Gen.listOfN(300, Gen.zip(durations, lens)).sample.get
    val df = cases.map { case (d, l) => (Option(d).map(_.toLong), Option(l).map(_.toInt)) }
      .toDF("d", "l")
    val out = df.select(col("d"), col("l"),
      Engagement.engagementPct(col("d"), col("l")).as("pct")).collect()
    out.foreach { r =>
      val dNull = r.isNullAt(0); val lBad = r.isNullAt(1) || r.getInt(1) <= 0
      if (dNull || lBad) assert(r.isNullAt(2))
      else assert(!r.isNullAt(2) && r.getDouble(2) >= 0)
    }
  }

  test("property: LWW dedup is idempotent and keeps one row per key") {
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.chooseNum(0, 25), Gen.chooseNum(0L, 50L), Gen.chooseNum(0L, 1000000L)))
      .sample.get
    val df = rows.map { case (k, v, tb) => (k.toLong, v, tb) }.toDF("k", "v", "tb")
    val once = Dedup.lww(df, Seq(col("k")), col("v"), col("tb"))
    val twice = Dedup.lww(once, Seq(col("k")), col("v"), col("tb"))
    assert(once.collect().map(_.toString).sorted.toSeq ===
      twice.collect().map(_.toString).sorted.toSeq)
    assert(once.groupBy("k").count().filter(col("count") > 1).count() === 0)
    assert(once.select("k").distinct().count() === df.select("k").distinct().count())
  }

  test("property: collapse of a balanced cancel stream equals LWW of the +1 rows") {
    // random per-key state sequences; synthesize (+1 state, -1 cancel of
    // predecessor) exactly like q_collapsing, collapse, compare to LWW
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(0L, 100000L)))
      .sample.get.distinct // distinct (k, ver) so version order is total
    val df = rows.map { case (k, ver) => (k.toLong, ver, s"state-$k-$ver") }
      .toDF("k", "ver", "state")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("ver"))
    val withPrev = df.withColumn("prev",
      lag(struct(col("ver"), col("state")), 1).over(w))
    val plus = withPrev.select(col("k"), col("ver"), col("state"), lit(1).as("sign"))
    val minus = withPrev.filter(col("prev").isNotNull)
      .select(col("k"), col("prev.ver").as("ver"),
        col("prev.state").as("state"), lit(-1).as("sign"))
    val collapsed = Dedup.collapse(plus.unionByName(minus),
        Seq(col("k")), col("sign"), col("ver"))
      .select("k", "ver", "state")
    val lww = Dedup.lww(df, Seq(col("k")), col("ver"), col("ver"))
      .select("k", "ver", "state")
    assert(collapsed.collect().map(_.toString).sorted.toSeq ===
      lww.collect().map(_.toString).sorted.toSeq)
  }

  test("property: funnel step counts are monotone non-increasing") {
    val rows = Gen.listOfN(500, Gen.zip(
      Gen.chooseNum(0, 40), Gen.chooseNum(0L, 3600L), Gen.chooseNum(1, 3)))
      .sample.get
    val df = rows.map { case (u, off, step) =>
      (u.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(off)), step)
    }.toDF("user_id", "ts", "step")
    val out = graft.ops.Funnel.windowFunnel(df, col("user_id"), col("ts"),
        Seq(col("step") === 1, col("step") === 2, col("step") === 3),
        window = "30 MINUTES")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = (1L to 3L).map(s => out.getOrElse(s, 0L))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2), counts.toString)
    // and every user with a step-1 event is counted at step 1
    val step1Users = rows.filter(_._3 == 1).map(_._1).distinct.size.toLong
    assert(counts(0) === step1Users)
  }

  test("property: event-id normalization total on non-null inputs, identity on digits") {
    val ids = Gen.oneOf(
      Gen.chooseNum(0L, Long.MaxValue / 2).map(_.toString),
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.const("evt-" + "x" * 30))
    val cases = Gen.listOfN(300, ids).sample.get
    val df = cases.toDF("id")
    val out = df.select(col("id"), Engagement.normalizeEventId(col("id"))).collect()
    out.foreach { r =>
      assert(!r.isNullAt(1))
      if (r.getString(0).matches("^[0-9]{1,18}$"))
        assert(r.getLong(1) === r.getString(0).toLong)
    }
  }

  test("property: asOfJoin equals the naive latest-at-or-before computation") {
    val events = Gen.listOfN(200,
        Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L))).sample.get
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k.toLong, t) }
    val versionsRaw = Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L), Gen.chooseNum(0, 1000)))
      .sample.get.map { case (k, t, p) => (k.toLong, t, p.toDouble) }
    // asOfJoin contract: right unique per (key, ts)
    val versions = versionsRaw.groupBy(v => (v._1, v._2)).map(_._2.maxBy(_._3)).toSeq
    val l = events.toDF("eid", "k", "t")
    val r = versions.toDF("vk", "vt", "p")
    val got = graft.enrich.Enrich.asOfJoin(l, col("k"), col("t"), r, col("vk"), col("vt"))
      .select(col("eid"), col("asof.p").as("p")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getDouble(1)))).toMap
    val expected = events.map { case (eid, k, t) =>
      eid -> versions.filter(v => v._1 == k && v._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
    }.toMap
    assert(got === expected)
  }

  test("property: asOfJoinWithin equals latest-at-or-before filtered by tolerance") {
    val events = Gen.listOfN(200,
        Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L))).sample.get
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k.toLong, t) }
    val versionsRaw = Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L), Gen.chooseNum(0, 1000)))
      .sample.get.map { case (k, t, p) => (k.toLong, t, p.toDouble) }
    val versions = versionsRaw.groupBy(v => (v._1, v._2)).map(_._2.maxBy(_._3)).toSeq
    val l = events.toDF("eid", "k", "tsec")
      .withColumn("t", timestamp_seconds(col("tsec")))
    val r = versions.toDF("vk", "vtsec", "p")
      .withColumn("vt", timestamp_seconds(col("vtsec")))
    val got = graft.enrich.Enrich.asOfJoinWithin(l, col("k"), col("t"),
        r, col("vk"), col("vt"), rightTsField = "vt", tolerance = "10 SECONDS")
      .select(col("eid"), col("asof.p").as("p")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getDouble(1)))).toMap
    // the match is the LATEST at-or-before version; if that one is
    // older than the tolerance, so is everything before it — the row
    // nulls rather than falling back
    val expected = events.map { case (eid, k, t) =>
      eid -> versions.filter(v => v._1 == k && v._2 <= t)
        .sortBy(_._2).lastOption.filter(_._2 >= t - 10L).map(_._3)
    }.toMap
    assert(got === expected)

    // compound interval terms and WEEK are valid splices (the validator
    // must not reject what expr(INTERVAL ...) accepts): '0 MINUTES
    // 10 SECONDS' ≡ '10 SECONDS', and '1 WEEK' parses
    val gotCompound = graft.enrich.Enrich.asOfJoinWithin(l, col("k"), col("t"),
        r, col("vk"), col("vt"), rightTsField = "vt",
        tolerance = "0 MINUTES 10 SECONDS")
      .select(col("eid"), col("asof.p").as("p")).collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some(row.getDouble(1)))).toMap
    assert(gotCompound === expected)
    graft.enrich.Enrich.asOfJoinWithin(l, col("k"), col("t"),
      r, col("vk"), col("vt"), rightTsField = "vt", tolerance = "1 WEEK").collect()
    // malformed still rejected eagerly
    intercept[IllegalArgumentException] {
      graft.enrich.Enrich.asOfJoinWithin(l, col("k"), col("t"),
        r, col("vk"), col("vt"), rightTsField = "vt", tolerance = "10 PARSECS")
    }
  }

  test("property: bucketed range join equals the exact theta join (incl. empty intervals)") {
    val points = Gen.listOfN(200, Gen.chooseNum(0L, 1000L)).sample.get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val intervals = Gen.listOfN(30,
        Gen.zip(Gen.chooseNum(0L, 1000L), Gen.chooseNum(0L, 100L))).sample.get
      .zipWithIndex.map { case ((s, len), i) => (i.toLong, s, s + len) } // len 0 = empty
    val p = points.toDF("pid", "ts")
    val iv = intervals.toDF("iid", "s", "e")
    val got = graft.ops.RangeJoin.pointInInterval(p, col("ts"), iv,
        col("s"), col("e"), bucketWidth = 64)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      (pid, t) <- points; (iid, s, e) <- intervals if t >= s && t < e
    } yield (pid, iid)).toSet
    assert(got === expected)
  }

  test("property: connected components are a fixpoint (re-running on the labeled graph is identity)") {
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0L, 39L), Gen.chooseNum(0L, 39L)))
    val edges = edgeGen.sample.get.toDF("src", "dst")
    val nodes = (0L until 40L).toDF("id")
    val labels = graft.dedup.Components.connectedComponents(
      edges, col("src"), col("dst"), nodes, col("id"))
    val lmap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every endpoint pair of an edge carries the same label
    edges.collect().foreach { r =>
      assert(lmap(r.getLong(0)) == lmap(r.getLong(1)), s"edge ${r} crosses components")
    }
    // labels are component minima: label <= id, and the label node labels itself
    lmap.foreach { case (id, l) =>
      assert(l <= id && lmap(l) == l, s"node $id label $l")
    }
    // idempotence: collapsing edges to label space and re-running changes nothing
    val collapsed = edges.select(col("src"), col("dst")).collect()
      .map(r => (lmap(r.getLong(0)), lmap(r.getLong(1)))).toSeq.toDF("src", "dst")
    val again = graft.dedup.Components.connectedComponents(
      collapsed, col("src"), col("dst"), nodes, col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lmap.foreach { case (id, l) => assert(again(l) == l, s"fixpoint broken at $l") }
  }

  test("property: sample keep-sets are monotone in rate (ramping a rate only adds docs)") {
    val ids = (0L until 1500L).toDF("doc_id")
      .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(3))))
    def keepSet(r1: Double, r2: Double): Set[Long] =
      ids.filter(graft.ops.Corpus.sampleKeep(col("lang"), col("doc_id"),
        Seq("l0" -> r1, "l1" -> r2), 0.2))
        .collect().map(_.getLong(0)).toSet
    val small = keepSet(0.1, 0.3)
    val big = keepSet(0.4, 0.9)
    assert(small.subsetOf(big),
      s"rate ramp flipped ${(small -- big).size} prior keep decisions")
  }

  test("property: chunkOverlap covers every token exactly once per stride-prefix") {
    // random doc lengths, a few (chunk, stride) geometries; for each:
    // chunk count = ceil(n/stride), stride-prefixes reassemble the doc,
    // n_tokens = min(chunk, n - start)
    val lens = Gen.listOfN(40, Gen.chooseNum(1, 200)).sample.get
    val docsDf = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(j => s"t$j").mkString(" ")) }
      .toDF("doc_id", "text")
    for ((chunk, stride) <- Seq((32, 24), (16, 16), (8, 3))) {
      val rows = graft.ops.Corpus.chunkOverlap(docsDf, col("doc_id"),
          col("text"), chunk, stride)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4)))
        .groupBy(_._1)
      lens.zipWithIndex.foreach { case (n, i) =>
        val cs = rows(i.toLong).sortBy(_._2)
        assert(cs.length === (n + stride - 1) / stride, s"doc $i len $n $chunk/$stride")
        cs.foreach { case (_, idx, start, nt, textC) =>
          assert(start === idx * stride)
          assert(nt === math.min(chunk, n - start))
          assert(textC.split(" ").length === nt)
        }
        val rebuilt = cs.flatMap(c => c._5.split(" ").take(stride)).toSeq
        assert(rebuilt === (1 to n).map(j => s"t$j"))
      }
    }
  }

  test("property: hashingVectorizer buckets partition the token count") {
    import graft.functions.{TextFunctions, VectorFunctions}
    val texts = Gen.listOfN(60,
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "Δδ", "x1", "-", "longtokenword"))
        .map(_.mkString(" "))).sample.get
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        VectorFunctions.hashingVectorizer(TextFunctions.tokens(col("text")), 8).as("v"),
        TextFunctions.tokenCount(col("text")).as("n"))
      .collect()
    out.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length === 8)
      assert(v.forall(_ >= 0))
      assert(v.sum === r.getInt(2).toDouble, s"doc ${r.getLong(0)}")
    }
  }

  test("property: bigram count per doc is tokens-1; docs under 2 tokens absent") {
    val lens = Gen.listOfN(30, Gen.chooseNum(1, 50)).sample.get
    val df = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (1 to n).map(j => s"w${j % 7}").mkString(" ")) }
      .toDF("doc_id", "text")
    val counts = graft.ops.Ngrams.bigramScoreDocs(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lens.zipWithIndex.foreach { case (n, i) =>
      if (n < 2) assert(!counts.contains(i.toLong))
      else assert(counts(i.toLong) === (n - 1).toLong, s"doc $i len $n")
    }
  }

  test("extensions: every GraftExtensions function resolves in the graft.Session session") {
    assert(spark.conf.get("spark.sql.extensions") === classOf[GraftExtensions].getName)
    val rec = "named_struct('event_id', '7', 'content_id', 'c', 'user_id', 'u', " +
      "'event_type', 'play', 'event_ts', 't', 'duration_ms', 5L, 'device', 'web', " +
      "'engagement_score', 1.5D, 'raw_payload', 'p', 'processed_ts', 't')"
    val bloom = "graft_bloom_agg(xxhash64(id), CAST(100 AS BIGINT), CAST(4096 AS BIGINT))"
    // one call per function; graft_nearest_cents takes a centroid handle
    // that only NearestCentroids.columnFor hands out
    val calls: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "bounded_top_k" -> (() => spark.sql("SELECT bounded_top_k(CAST(id AS DOUBLE), id, 2) FROM range(5)")),
      "misra_gries" -> (() => spark.sql("SELECT misra_gries(CAST(id % 3 AS STRING), 2) FROM range(9)")),
      "misra_gries_w" -> (() => spark.sql("SELECT misra_gries_w(CAST(id % 3 AS STRING), id, 2) FROM range(9)")),
      "uniq_up_to" -> (() => spark.sql("SELECT uniq_up_to(id, 3) FROM range(9)")),
      "kmv_sketch" -> (() => spark.sql("SELECT kmv_sketch(id, 4) FROM range(9)")),
      "graft_dot" -> (() => spark.sql("SELECT graft_dot(array(1D, 2D), array(3D, 4D))")),
      "graft_nearest_cents" -> (() => spark.range(1).select(
        graft.functions.NearestCentroids.columnFor(spark, Array(Array(1.0, 0.0), Array(0.0, 1.0)),
          Array(1.0, 1.0), 1, typedLit(Array(0.0, 2.0)), lit(2.0)))),
      "graft_avro_encode" -> (() => spark.sql(s"SELECT graft_avro_encode($rec)")),
      "graft_avro_decode" -> (() => spark.sql(s"SELECT graft_avro_decode(graft_avro_encode($rec)).event_id")),
      "graft_bloom_agg" -> (() => spark.sql(s"SELECT $bloom FROM range(9)")),
      "graft_might_contain" -> (() => spark.sql(
        s"SELECT graft_might_contain((SELECT $bloom FROM range(9)), xxhash64(3L))")))
    assert(calls.keySet === GraftExtensions.functions.map(_._1.funcName).toSet)
    calls.foreach { case (name, call) =>
      val rows = call().collect()
      assert(rows.length === 1 && !rows.head.isNullAt(0), name)
    }
    assert(calls("graft_dot")().head.getDouble(0) === 11.0)
    assert(calls("graft_avro_decode")().head.getString(0) === "7")
    assert(calls("graft_might_contain")().head.getBoolean(0))
  }

  test("extensions: install on a session without the functions is idempotent; their queries run") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) => registry.dropFunction(id) }
    intercept[org.apache.spark.sql.AnalysisException](
      s.sql("SELECT bounded_top_k(1D, 1L, 1)").collect())
    GraftExtensions.install(s)
    val listed = registry.listFunction().size
    GraftExtensions.install(s)
    assert(registry.listFunction().size === listed)
    assert(GraftExtensions.functions.forall { case (id, _, _) => registry.functionExists(id) })
    for (q <- Seq("q_topk_custom_agg", "q_heavy_hitters", "q_avro_roundtrip", "q_bloom_semi"))
      assert(graft.queries.Queries.runners(q)(s, "/root/testdata/sf0.001").collect().nonEmpty, q)
  }

  test("sessions: graft.Session holds the only SparkSession builder under src/") {
    val call = java.util.regex.Pattern.quote("SparkSession" + ".builder()").r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val hits = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Seq.fill(call.findAllIn(java.nio.file.Files.readString(p)).size)(p.toString)
      }.toList
    finally files.close()
    assert(hits === List("src/main/scala/graft/Session.scala"))
  }

  test("property: mannWhitneyU matches a brute-force O(n^2) U on random samples") {
    import graft.ops.Stats
    val rng = new scala.util.Random(9001)
    for (trial <- 1 to 4) {
      val na = 2 + rng.nextInt(12); val nb = 2 + rng.nextInt(12)
      // small value domain forces heavy ties
      val a = Seq.fill(na)(rng.nextInt(6).toLong)
      val b = Seq.fill(nb)(rng.nextInt(6).toLong)
      // brute force: U_a = #(a>b) + 0.5*#(a==b), doubled to stay exact
      val u2 = (for (x <- a; y <- b) yield
        (if (x > y) 2L else if (x == y) 1L else 0L)).sum
      val df = (a.map((true, _)) ++ b.map((false, _))).toDF("is_a", "v")
      val r = Stats.mannWhitneyU(df, col("is_a"), col("v"),
        bucketWidth = 1L + rng.nextInt(4)).collect().head
      assert(r.getAs[String]("u2_a") === u2.toString, s"trial=$trial a=$a b=$b")
    }
  }

  test("property: ksTest D numerator matches brute-force sup over sample points") {
    import graft.ops.Stats
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 4) {
      val na = 2 + rng.nextInt(10); val nb = 2 + rng.nextInt(10)
      val a = Seq.fill(na)(rng.nextInt(8).toLong)
      val b = Seq.fill(nb)(rng.nextInt(8).toLong)
      val vs = (a ++ b).distinct.sorted
      val dnum = vs.map(v =>
        math.abs(a.count(_ <= v).toLong * nb - b.count(_ <= v).toLong * na)).max
      val df = (a.map((true, _)) ++ b.map((false, _))).toDF("is_a", "v")
      val r = Stats.ksTest(df, col("is_a"), col("v"),
        bucketWidth = 1L + rng.nextInt(4)).collect().head
      assert(r.getAs[String]("d_num") === dnum.toString, s"trial=$trial a=$a b=$b")
    }
  }

  test("property: rankCorr matches brute-force Spearman-with-midranks") {
    import graft.ops.Stats
    val rng = new scala.util.Random(1337)
    def midranks(v: Seq[Long]): Seq[Double] = {
      val sorted = v.sorted
      v.map { x =>
        val lt = sorted.count(_ < x); val eq = sorted.count(_ == x)
        lt + (eq + 1) / 2.0
      }
    }
    for (trial <- 1 to 4) {
      val n = 4 + rng.nextInt(16)
      val xs = Seq.fill(n)(rng.nextInt(6).toLong)
      val ys = Seq.fill(n)(rng.nextInt(6).toLong)
      val rx = midranks(xs); val ry = midranks(ys)
      val mx = rx.sum / n; val my = ry.sum / n
      val num = rx.zip(ry).map { case (u, w) => (u - mx) * (w - my) }.sum
      val dx = rx.map(u => (u - mx) * (u - mx)).sum
      val dy = ry.map(w => (w - my) * (w - my)).sum
      val df = xs.zip(ys).toDF("x", "y")
      val r = Stats.rankCorr(df, col("x"), col("y"),
        bucketWidth = 1L + rng.nextInt(4)).collect().head
      if (dx > 0 && dy > 0) {
        val expected = num / math.sqrt(dx * dy)
        assert(math.abs(r.getAs[Double]("rho") - expected) < 1e-5,
          s"trial=$trial xs=$xs ys=$ys")
      } else assert(r.isNullAt(r.fieldIndex("rho")), s"trial=$trial")
    }
  }

  test("property: rocAuc equals brute-force pair counting (ties = half-wins)") {
    import graft.ops.Stats
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 5 + rng.nextInt(20)
      val rows = Seq.fill(n)((rng.nextBoolean(), rng.nextInt(8).toLong))
      val pos = rows.filter(_._1).map(_._2); val neg = rows.filterNot(_._1).map(_._2)
      val df = rows.toDF("is_pos", "v")
      val r = Stats.rocAuc(df, col("is_pos"), col("v"),
        bucketWidth = 1L + rng.nextInt(3)).collect().head
      if (pos.nonEmpty && neg.nonEmpty) {
        val wins = (for (p <- pos; q <- neg) yield
          if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
        val expected = wins / (pos.size.toDouble * neg.size)
        assert(math.abs(r.getAs[Double]("auc") - expected) < 1e-5,
          s"trial=$trial rows=$rows")
      } else assert(r.isNullAt(r.fieldIndex("auc")), s"trial=$trial")
    }
  }

  test("property: geohash decode center lies within half a cell of the input") {
    import graft.functions.GeoFunctions
    val rng = new scala.util.Random(13)
    val pts = Seq.fill(60)((rng.nextDouble() * 360 - 180,
      rng.nextDouble() * 180 - 90))
    val df = pts.toDF("lon", "lat")
      .select(col("lon"), col("lat"),
        GeoFunctions.geohashDecode(
          GeoFunctions.geohashEncode(col("lon"), col("lat"), 5), 5).as("c"))
      .select(col("lon"), col("lat"), col("c.lon").as("lc"), col("c.lat").as("lt"))
    val (lonHalf, latHalf) = (360.0 / (1 << 13) / 2, 180.0 / (1 << 12) / 2)
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) <= lonHalf + 1e-9, r)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) <= latHalf + 1e-9, r)
    }
    // precision 12 drives the interleaved value to 60 bits — the zone
    // where the old `/`-based bit extraction (double division) lost
    // low-order bits; shiftright must stay exact
    val df12 = pts.take(20).toDF("lon", "lat")
      .select(col("lon"), col("lat"),
        GeoFunctions.geohashDecode(
          GeoFunctions.geohashEncode(col("lon"), col("lat"), 12), 12).as("c"))
      .select(col("lon"), col("lat"), col("c.lon"), col("c.lat"))
    val (lh12, th12) = (360.0 / (1L << 30) / 2, 180.0 / (1L << 30) / 2)
    df12.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) <= lh12 * (1 + 1e-9), r)
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) <= th12 * (1 + 1e-9), r)
    }
  }

  test("property: greatCircleDistance matches libm haversine to sub-mm") {
    import graft.functions.GeoFunctions
    def ref(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
      val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
      val dp = math.toRadians(lat2 - lat1) / 2
      val dl = math.toRadians(lon2 - lon1) / 2
      val a = math.pow(math.sin(dp), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin(dl), 2)
      6371000.0 * 2 * math.asin(math.sqrt(math.min(1.0, math.max(0.0, a))))
    }
    val rng = new scala.util.Random(29)
    val pts = Seq.fill(80)((rng.nextDouble() * 360 - 180,
      rng.nextDouble() * 180 - 90, rng.nextDouble() * 360 - 180,
      rng.nextDouble() * 180 - 90)) ++ Seq(
      (0.0, 0.0, 0.0, 0.0), // identical points → 0
      (0.0, 0.0, 180.0, 0.0), // antipodal → π·R exactly via asin(1)
      (-180.0, 10.0, 180.0, 10.0), // dateline wrap: Δλ = 360 → 0 m
      (12.5, 90.0, -37.0, -90.0), // pole to pole
      (10.0, 89.999, 190.0 - 360.0, 89.999)) // near-pole short hop
    val out = pts.toDF("lon1", "lat1", "lon2", "lat2")
      .select(col("lon1"), col("lat1"), col("lon2"), col("lat2"),
        GeoFunctions.greatCircleDistance(col("lon1"), col("lat1"),
          col("lon2"), col("lat2")).as("d"))
      .collect()
    out.foreach { r =>
      val e = ref(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val d = r.getDouble(4)
      assert(math.abs(d - e) < 1e-4, s"$r expected $e")
      assert(d >= 0 && d <= math.Pi * 6371000.0 + 1e-6, r)
    }
  }

  test("property: bitmap pair algebra equals brute-force set algebra") {
    import graft.ops.Bitmaps
    val rng = new scala.util.Random(12)
    for (trial <- 1 to 4) {
      // ids chosen to straddle word boundaries (range spans 3 words)
      val a = Seq.fill(3 + rng.nextInt(40))(rng.nextInt(180).toLong).toSet
      val b = Seq.fill(3 + rng.nextInt(40))(rng.nextInt(180).toLong).toSet
      val rows = a.toSeq.map(("a", _)) ++ b.toSeq.map(("b", _))
      // duplicate some rows — builds must absorb them
      val df = (rows ++ rows.take(5)).toDF("seg", "id")
      val ov = Bitmaps.segmentOverlap(df, col("seg"), col("id"))
        .collect().head
      assert(ov.getAs[Long]("card_a") === a.size.toLong, s"trial=$trial")
      assert(ov.getAs[Long]("card_b") === b.size.toLong, s"trial=$trial")
      assert(ov.getAs[Long]("and_card") === (a & b).size.toLong, s"trial=$trial")
      assert(ov.getAs[Long]("or_card") === (a | b).size.toLong, s"trial=$trial")
      assert(ov.getAs[Long]("xor_card") ===
        ((a | b) -- (a & b)).size.toLong, s"trial=$trial")
      assert(ov.getAs[Long]("andnot_card") === (a -- b).size.toLong,
        s"trial=$trial")
    }
  }

  test("property: Prefix.running equals the single global window under varied partitioning") {
    // the running columns match the framed window, and each value's
    // `_total` column matches the same aggregate over the whole key
    import graft.ops.Prefix
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(4242)
    // unique id, 4 keys, an order value with ties (some negative, so the
    // floor-division buckets cross zero), a non-negative value, and the
    // same value with about a quarter nulls
    val rows = (0 until 160).map { id =>
      (id.toLong, rng.nextInt(4), rng.nextInt(200).toLong - 100L,
        rng.nextInt(1000).toLong,
        if (rng.nextInt(4) == 0) None else Some(rng.nextInt(1000).toLong))
    }
    val df = rows.toDF("id", "k", "o", "v", "vn")
    val frames = Seq(Prefix.InclusiveRows, Prefix.ExclusiveRows, Prefix.ExclusiveRange)
    def orderOf(f: Prefix.Frame) =
      if (f == Prefix.ExclusiveRange) Seq(col("o")) else Seq(col("o"), col("id"))
    // each row its own bucket (each distinct order value under RANGE),
    // 16-wide buckets, and all rows in one bucket
    def bucketOf(f: Prefix.Frame, width: String) = width match {
      case "each" if f == Prefix.ExclusiveRange => col("o")
      case "each" => col("o") * 1000L + col("id")
      case "mid" => floor(col("o") / 16.0).cast("long")
      case "one" => lit(0L)
    }
    def spec(agg: Prefix.Agg, f: Prefix.Frame, keys: Seq[String]): Map[Long, Seq[Any]] = {
      val w0 = Window.partitionBy(keys.map(col): _*).orderBy(orderOf(f): _*)
      val w = f match {
        case Prefix.InclusiveRows => w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        case Prefix.ExclusiveRows => w0.rowsBetween(Window.unboundedPreceding, -1)
        case Prefix.ExclusiveRange => w0.rangeBetween(Window.unboundedPreceding, -1)
      }
      val whole = Window.partitionBy(keys.map(col): _*)
      val run: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (agg == Prefix.Sum) c => coalesce(sum(c).over(w), lit(0L))
        else c => max(c).over(w)
      val tot: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (agg == Prefix.Sum) c => sum(c).over(whole) else c => max(c).over(whole)
      df.select(col("id"), run(col("v")), run(col("vn")), tot(col("v")), tot(col("vn")))
        .collect().map(r => r.getLong(0) -> Seq(r.get(1), r.get(2), r.get(3), r.get(4))).toMap
    }
    val confs = for (parts <- Seq(1, 7, 32); aqe <- Seq(true, false)) yield (parts, aqe)
    val shapes = for (keyed <- Seq(true, false); width <- Seq("each", "mid", "one"))
      yield (keyed, width)
    val specs = (for (agg <- Seq(Prefix.Sum, Prefix.Max); f <- frames;
        keys <- Seq(Seq("k"), Nil)) yield (agg, f, keys) -> spec(agg, f, keys)).toMap
    val confKeys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = confKeys.map(k => k -> spark.conf.get(k))
    try {
      // every conf runs every (agg, frame); across the confs each
      // (agg, frame) meets every (keyed, bucket width) shape once
      for (((parts, aqe), i) <- confs.zipWithIndex; agg <- Seq(Prefix.Sum, Prefix.Max);
          f <- frames) {
        confKeys.zip(Seq(parts.toString, aqe.toString)).foreach { case (k, v) =>
          spark.conf.set(k, v) }
        val (keyed, width) = shapes(i)
        val keys = if (keyed) Seq("k") else Nil
        val got = Prefix.running(df.withColumn("b", bucketOf(f, width)), keys, "b",
            orderOf(f), Seq("rv" -> col("v"), "rvn" -> col("vn")), agg, f)
          .select("id", "rv", "rvn", "rv_total", "rvn_total").collect()
          .map(r => r.getLong(0) -> Seq(r.get(1), r.get(2), r.get(3), r.get(4))).toMap
        assert(got === specs((agg, f, keys)),
          s"$agg $f keyed=$keyed width=$width partitions=$parts aqe=$aqe")
      }
    } finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
