package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ClickHouse `LIMIT n OFFSET m BY key` clause analog — per-group
  * pagination: for every group, the rows ranked [m, m+n) under the
  * query's ORDER BY (reference context: the dashboard idiom
  * `ORDER BY ts DESC LIMIT 3 BY user_id` — "each user's latest 3
  * events" — over the engagement tables,
  * sql/clickhouse-init.sql engagement schema).
  *
  * NOT a window-rank: `row_number() OVER (PARTITION BY key ORDER BY…)`
  * buffers and sorts every group's full history in one WindowExec
  * group — the hot-key hazard SCALE.md's fifteenth finding measures.
  * Instead the per-group candidate set is reduced by the bounded-heap
  * [[graft.functions.BoundedTopK]] aggregate to at most n+m rows per
  * key BEFORE any sort (partial+final hash agg, ≤ 2(n+m) pairs of
  * map-side state per key), then the surviving (key, rank) pairs —
  * |groups|·(n+m) rows max — join back to recover the full rows. A
  * group's raw cardinality never reaches a sort or a window buffer.
  */
object LimitBy {

  /** Rows ranked [offset, offset+n) per group under (score DESC,
    * rowKey ASC). Contract: `rowKey` must be unique in `df` (it is the
    * join-back identity); rows where `score` or `rowKey` is null are
    * SKIPPED (they never rank — mirror this in any oracle with an
    * `IS NOT NULL` guard); the rank order compares `score` as a
    * double, so integer scores beyond 2⁵³ may tie-collapse — the
    * rowKey ASC tiebreak then decides (cast such scores down or
    * rescale before calling). Output adds a 0-based rank column
    * (`rankCol`, default "pos").
    *
    * Internal working columns carry a suffix derived from the input
    * column names, so a `df` that already has `pos`/`_s`/`_rk`
    * columns cannot collide; `rankCol` is asserted absent from `df`.
    *
    * Scale: one bounded-heap hash aggregate (state ≤ 2(n+offset)
    * pairs/key) + one join whose build side is |groups|·(n+offset)
    * rows. The join-back keys are unique on both sides, so there is no
    * amplification; at warehouse scale the rank side is orders of
    * magnitude smaller than the fact and AQE broadcast-plans it. */
  def limitBy(df: DataFrame, groupCols: Seq[String], score: Column,
      rowKey: Column, n: Int, offset: Int = 0,
      rankCol: String = "pos"): DataFrame = {
    require(n > 0 && offset >= 0, s"need n > 0, offset >= 0; got $n/$offset")
    require(!df.columns.contains(rankCol),
      s"rank column '$rankCol' already exists in the input; pass rankCol=")
    // Deterministic nonce: first free "_gN" suffix vs the input schema.
    val nonce = Iterator.from(0).map(i => s"_g$i")
      .find(sfx => !df.columns.exists(_.endsWith(sfx))).get
    val sC = s"_s$nonce"; val rkC = s"_rk$nonce"; val topC = s"_top$nonce"
    val kvC = s"_kv$nonce"
    graft.GraftExtensions.install(df.sparkSession)
    val g = groupCols.map(col)
    val ranked = df
      .select(g :+ score.cast("double").as(sC) :+
        rowKey.cast("long").as(rkC): _*)
      .groupBy(g: _*)
      .agg(expr(s"bounded_top_k(`$sC`, `$rkC`, ${n + offset})").as(topC))
      .select(g :+ posexplode(col(topC)).as(Seq(rankCol, kvC)): _*)
      .where(col(rankCol) >= offset)
      .select(col(s"$kvC.key").as(rkC), col(rankCol))
    df.join(ranked, rowKey.cast("long") === ranked(rkC))
      .drop(rkC)
  }

  /** ClickHouse `ORDER BY score DESC LIMIT n WITH TIES` (grouped when
    * `groupCols` is non-empty; pass Nil for the global statement
    * form): the first n rows per group PLUS every row tying the
    * boundary — the n-th — score, so a group can legitimately return
    * MORE than n rows. Same bounded-heap discipline as [[limitBy]]:
    * the boundary score comes from one partial+final bounded_top_k
    * aggregate (state ≤ 2n pairs/key, map-side combined), the
    * |groups|-row boundary table joins back corpus-side (broadcast for
    * the one-row global form), and the ties resolve as a plain
    * `score >= boundary` filter — no group's raw cardinality ever
    * reaches a sort or window buffer, which is what lets WITH TIES
    * join the limit_by_skew rung. Contract mirrors limitBy: rank
    * order compares score as double; null scores / rowKeys are
    * skipped; a group smaller than n returns whole (its boundary is
    * its minimum score). */
  def limitByWithTies(df: DataFrame, groupCols: Seq[String], score: Column,
      rowKey: Column, n: Int): DataFrame = {
    require(n > 0, s"need n > 0; got $n")
    val nonce = Iterator.from(0).map(i => s"_g$i")
      .find(sfx => !df.columns.exists(_.endsWith(sfx))).get
    val sC = s"_s$nonce"; val rkC = s"_rk$nonce"
    val topC = s"_top$nonce"; val bC = s"_b$nonce"
    graft.GraftExtensions.install(df.sparkSession)
    val g = groupCols.map(col)
    val boundary = when(size(col(topC)) > 0,
      element_at(col(topC), size(col(topC))).getField("score"))
    val bounds = df
      .select(g :+ score.cast("double").as(sC) :+
        rowKey.cast("long").as(rkC): _*)
      .groupBy(g: _*)
      .agg(expr(s"bounded_top_k(`$sC`, `$rkC`, $n)").as(topC))
      .select(g :+ boundary.as(bC): _*)
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(Joins.corpusSide(bounds), groupCols)
    joined
      .where(score.isNotNull && rowKey.isNotNull &&
        score.cast("double") >= col(bC))
      .drop(bC)
  }

  /** DuckDB replica of [[limitByWithTies]]: rank the group, take the
    * boundary score at rank min(n, group size), keep score >= it. */
  def withTiesOracleSql(src: String, groupSql: Seq[String],
      scoreSql: String, rowKeySql: String, selectSql: String,
      n: Int): String = {
    val part = if (groupSql.isEmpty) "" else s"PARTITION BY ${groupSql.mkString(", ")}"
    val joinOn = if (groupSql.isEmpty) "TRUE"
      else groupSql.map(c => s"r.$c = b.$c").mkString(" AND ")
    val bKeys = if (groupSql.isEmpty) "" else groupSql.mkString(", ") + ","
    val bGroup = if (groupSql.isEmpty) "" else s"GROUP BY ${groupSql.mkString(", ")}"
    s"""WITH r AS (SELECT *, CAST($scoreSql AS DOUBLE) AS __s, row_number() OVER ($part ORDER BY CAST($scoreSql AS DOUBLE) DESC, $rowKeySql ASC) AS rn FROM $src WHERE ($scoreSql) IS NOT NULL AND ($rowKeySql) IS NOT NULL),
b AS (SELECT $bKeys min(CASE WHEN rn <= $n THEN __s END) AS __b FROM r $bGroup)
SELECT $selectSql FROM r JOIN b ON $joinOn WHERE r.__s >= b.__b"""
  }

  /** DuckDB replica: row_number pagination (the semantics spec — the
    * oracle may sort whole groups; the engine may not). Mirrors the
    * engine's contract explicitly: double-cast rank order and the
    * null-score / null-rowKey skip. */
  def oracleSql(src: String, groupSql: Seq[String], scoreSql: String,
      rowKeySql: String, selectSql: String, n: Int, offset: Int): String = {
    val part = groupSql.mkString(", ")
    s"""WITH r AS (SELECT *, row_number() OVER (PARTITION BY $part ORDER BY CAST($scoreSql AS DOUBLE) DESC, $rowKeySql ASC) - 1 AS pos FROM $src WHERE ($scoreSql) IS NOT NULL AND ($rowKeySql) IS NOT NULL)
SELECT $selectSql, CAST(pos AS INT) AS pos FROM r WHERE pos >= $offset AND pos < ${offset + n}"""
  }
}
