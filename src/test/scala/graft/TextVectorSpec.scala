package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.ops.Dedup

class TextVectorSpec extends SparkSpec {
  import spark.implicits._

  test("tokens + tokenCount + normText") {
    val df = Seq("  The  quick\tbrown fox ", "", "one").toDF("t")
    val out = df.select(
      TextFunctions.tokenCount(col("t")).as("n"),
      TextFunctions.normText(col("t")).as("norm")).collect()
    assert(out(0).getInt(0) === 4)
    assert(out(0).getString(1) === "the quick brown fox")
    assert(out(1).getInt(0) === 1) // split("") → [""], documented semantics
    assert(out(2).getInt(0) === 1)
  }

  test("fingerprint: stable, whitespace/case-insensitive") {
    val df = Seq("Hello  World", "hello world", "hello  worlds").toDF("t")
    val fps = df.select(TextFunctions.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
    assert(fps(0).length === 16 && fps(0).matches("[0-9a-f]{16}"))
  }

  test("shingles: distinct word n-grams; short docs yield one shingle") {
    val df = Seq("a b c d", "a b").toDF("t")
    val out = df.select(TextFunctions.shingles(col("t"), 3)).collect()
    assert(out(0).getSeq[String](0).toSet === Set("a b c", "b c d"))
    assert(out(1).getSeq[String](0).toSet === Set("a b"))
  }

  test("langId: stopword-hit argmax with en>de>es>fr tie order") {
    val df = Seq(
      "the cat and the dog is in the house",
      "der Hund ist nicht ein Tier und das",
      "el perro es un animal en la casa",
      "xyzzy qwerty").toDF("t")
    val out = df.select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(out.toSeq === Seq("en", "de", "es", "und"))
  }

  test("langId: empty and whitespace-only text → und; quality stays in [0,1]") {
    val df = Seq("", "   ", "zzz").toDF("t") // ("a" alone IS an en stopword)
    val out = df.select(TextFunctions.langId(col("t")),
      TextFunctions.qualityScore(col("t"))).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("und", "und", "und"))
    assert(out.forall { r => val q = r.getDouble(1); q >= 0.0 && q <= 1.0 })
  }

  test("vector dot: length mismatch yields null (zip_with pads with null)") {
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("md5Long: matches first 15 hex digits of md5, non-negative") {
    val df = Seq("hello").toDF("t")
    val got = df.select(TextFunctions.md5Long(col("t"))).head.getLong(0)
    // md5("hello") = 5d41402abc4b2a76...; first 15 hex = 0x5d41402abc4b2a7
    assert(got === java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("vector dot/norm/cosine goldens") {
    val df = Seq((Array(1f, 2f, 2f), Array(2f, 4f, 4f)), (Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
      .toDF("a", "b")
    val out = df.select(
      VectorFunctions.dot(col("a"), col("b")),
      VectorFunctions.norm(col("a")),
      VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) === 18.0)
    assert(out(0).getDouble(1) === 3.0)
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-12) // parallel vectors
    assert(out(1).getDouble(2) === 0.0)                  // orthogonal
  }

  test("cosine: zero vector yields null, not NaN") {
    val df = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine(col("a"), col("b"))).head.isNullAt(0))
  }

  test("SQL frontend: registered views answer spark.sql queries") {
    Tables.createViews(spark, "/root/testdata/sf0.001")
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1""").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaDf = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_returnflag"))
      .agg(graft.ops.Rollups.decSum(col("l_quantity"), 2).as("sum_qty")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql === viaDf)
  }

  test("LWW dedup: idempotent, keeps max version with tiebreak") {
    val df = Seq(
      ("k1", 10L, 1L, "old"), ("k1", 20L, 2L, "new"),
      ("k2", 10L, 3L, "a"), ("k2", 10L, 4L, "b") // version tie → max tiebreak
    ).toDF("k", "v", "tb", "payload")
    val once = Dedup.lww(df, Seq(col("k")), col("v"), col("tb"))
    val twice = Dedup.lww(once, Seq(col("k")), col("v"), col("tb"))
    val got = once.orderBy("k").collect().map(r => (r.getString(0), r.getString(3)))
    assert(got.toSeq === Seq(("k1", "new"), ("k2", "b")))
    assert(twice.count() === once.count()) // idempotence f(f(x)) = f(x)
  }

  test("exact dedup groups: duplicate payloads collapse to min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val g = Dedup.exactGroups(df, col("t"), col("id")).orderBy("keep_id").collect()
    assert(g.length === 2)
    assert(g(0).getAs[Long]("keep_id") === 1L && g(0).getAs[Long]("dup_cnt") === 2L)
    val survivors = Dedup.exactDedup(df, col("t"), col("id"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === Seq(1L, 3L))
  }

  test("bloom functions: no false negatives, mostly-true rejection of unseen keys") {
    val seen = spark.range(0, 1000).toDF("k")
    seen.createOrReplaceTempView("bloom_seen")
    val bf = spark.sql(
      "SELECT graft_bloom_agg(xxhash64(k), CAST(1000 AS BIGINT), CAST(65536 AS BIGINT)) AS bf FROM bloom_seen")
    bf.createOrReplaceTempView("bloom_bf")
    // every seen key must hit (no false negatives — the semi-join safety
    // property CorpusIngest relies on); the filter must be a constant or
    // scalar subquery, hence the (SELECT bf …) form
    val misses = spark.sql(
      """SELECT count(*) FROM bloom_seen
         WHERE NOT graft_might_contain((SELECT bf FROM bloom_bf), xxhash64(k))""")
      .head.getLong(0)
    assert(misses === 0L)
    // unseen keys are mostly rejected (bloom actually filters)
    val fp = spark.sql(
      """SELECT count(*) FROM (SELECT id + 100000 AS k FROM range(1000))
         WHERE graft_might_contain((SELECT bf FROM bloom_bf), xxhash64(k))""")
      .head.getLong(0)
    assert(fp < 100L, s"false-positive count $fp of 1000")
  }

  test("vectorMeanBy: elementwise per-group mean, position order preserved") {
    val df = Seq(
      ("a", Seq(1.0f, 3.0f, -2.0f)), ("a", Seq(3.0f, 5.0f, 0.0f)),
      ("b", Seq(10.0f, 0.0f, 0.0f))).toDF("g", "vec")
    val out = VectorFunctions.vectorMeanBy(df, col("g"), col("vec"))
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Seq[Double]]("mean_vec")))).toMap
    assert(out("a") === ((2L, Seq(2.0, 4.0, -1.0))))
    assert(out("b") === ((1L, Seq(10.0, 0.0, 0.0))))
  }
}
