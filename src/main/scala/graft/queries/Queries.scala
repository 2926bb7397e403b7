package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.cdc.Envelope
import graft.dim.ContentDim
import graft.enrich.Enrich
import graft.functions.{Engagement, TextFunctions, VectorFunctions}
import graft.ops.{Corpus, Decontaminate, Dedup, Retrieval, Rollups, Selection, Skew, UnigramLm}

/** One registered query per implemented operator (SURVEY.md §2 + the
  * LLM-data-pipeline extensions). Each entry pairs the Spark
  * implementation with a semantically-identical DuckDB oracle SQL for
  * the driver's hash-compare at sf0.01.
  *
  * Oracle-parity rules used throughout (see Scaladoc in graft.ops):
  *  - double sums go through DECIMAL casts (order-independent, exact);
  *  - per-row doubles that involve transcendental fns are rounded;
  *  - timestamps are emitted as formatted strings (both engines UTC);
  *  - rankings always carry an explicit total-order tiebreak.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Queries {

  // ---- shared expressions -------------------------------------------------

  /** Engagement score applied to the events table, with value (seconds)
    * scaled to the reference's duration_ms contract. */
  private def score: Column =
    Engagement.engagementScore(col("event_type"), col("value") * 1000)

  /** The same expression in DuckDB SQL, operation-for-operation. */
  private val scoreSql: String =
    """floor((CASE WHEN lower(event_type)='play' THEN 1.0 WHEN lower(event_type)='pause' THEN 0.5 WHEN lower(event_type)='finish' THEN 3.0 WHEN lower(event_type)='click' THEN 0.2 ELSE 1.0 END) * (CASE WHEN value*1000 > 0 THEN least(2.5, ln((value*1000)/1000.0 + 1)) ELSE 1.0 END) * 100.0 + 0.5)/100.0"""

  private def ev(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** Concave test polygon (a dart) in integer µ-degrees, shared by the
    * point-in-polygon query and its oracle builder — concavity is the
    * point: it exercises crossing counts > 1. */
  val dartPolygon: Seq[(Long, Long)] = Seq(
    (-120000000L, -60000000L), (0L, 80000000L),
    (120000000L, -60000000L), (0L, -10000000L))

  /** Hole ring strictly inside [[dartPolygon]] (a diamond around
    * (0°, 25°)) — the multi-ring `pointInPolygon(pt, outer, hole)`
    * fixture: points in the diamond are inside the outer dart but
    * OUTSIDE the polygon-with-hole. */
  val dartHole: Seq[(Long, Long)] = Seq(
    (-20000000L, 20000000L), (0L, 45000000L),
    (20000000L, 20000000L), (0L, 5000000L))

  /** Point synthesis shared by both polygon queries and their oracles
    * — event_id-seeded so the coordinates cover the dart (and the
    * hole) at EVERY test SF. The original user_id%3600 form left all
    * sf0.001/sf0.01 points outside the polygon's bounding box (user
    * ids are small there), so the gate never exercised a positive
    * "inside" — a hash would fix it too, but the multiplier keeps the
    * fixture mentally checkable. */
  private val polygonPointsSql: String =
    """SELECT event_id AS pid,
 CAST(round((CAST((event_id * 37) % 3600 AS DOUBLE)/10 - 180) * 1e6, 0) AS BIGINT) AS px,
 CAST(round((CAST((event_id * 91) % 1700 AS DOUBLE)/10 - 85) * 1e6, 0) AS BIGINT) AS py
 FROM events"""

  /** DuckDB replica of [[TextFunctions.qualityScore]] over `documents`
    * — shared by q_quality_score and the q_quality_ensemble gate. */
  private lazy val qualityScoreOracleSql: String = {
    val stopPat = TextFunctions.langStopwords.toMap.apply("en")
    raw"""SELECT doc_id, floor((0.5 * least(1.0, n_tok/64.0) + 0.3 * (1.0 - least(1.0, punct/nt)) + 0.2 * least(1.0, 4.0*stop/nt)) * 10000.0 + 0.5) / 10000.0 AS quality FROM (SELECT doc_id, n_tok, CASE WHEN n_tok > 0 THEN n_tok ELSE 1.0 END AS nt, punct, stop FROM (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct, CAST(len(regexp_extract_all(lower(text), '$stopPat')) AS DOUBLE) AS stop FROM documents))"""
  }

  /** [[TextFunctions.qualityScore]] >= 0.5 as a SCALAR SQL predicate
    * over a `documents` row — the distillation label for the trained
    * classifier rungs (train the cheap model to reproduce the graded
    * heuristic, then serve the model: the FineWeb-Edu pattern). */
  private lazy val qualityLabelPredSql: String = {
    val stopPat = TextFunctions.langStopwords.toMap.apply("en")
    val n = raw"CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)"
    val nt = s"(CASE WHEN $n > 0 THEN $n ELSE 1.0 END)"
    val pu = "CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)"
    val st = s"CAST(len(regexp_extract_all(lower(text), '$stopPat')) AS DOUBLE)"
    s"floor((0.5 * least(1.0, $n/64.0) + 0.3 * (1.0 - least(1.0, $pu/$nt)) + 0.2 * least(1.0, 4.0*$st/$nt)) * 10000.0 + 0.5) / 10000.0 >= 0.5"
  }

  /** A fresh scratch directory, deleted recursively at JVM exit —
    * keeps side-effecting queries (q_snapshot_changes) from leaking
    * disk across repeated verify runs. */
  private def scratchDir(prefix: String): String = {
    import java.nio.file.{Files, Path}
    val p = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))))
    p.toString
  }

  /** Fixed BM25 query-term bag (order matters: scores sum in this order). */
  private val bm25Terms = Seq("spark", "stream", "vector", "hash")

  /** Fixed query set for the retrieval-quality metrics — term bags over
    * the synthetic vocabulary, two of them carrying the one RARE term
    * (`dup`, df≈26 vs ~900 for everything else) so graded relevance
    * actually varies across documents. */
  private val retrievalQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "hash"),
    2 -> Seq("dup", "stream", "window"),
    3 -> Seq("vector", "sort", "merge", "slow"),
    4 -> Seq("dup", "fast"))

  /** Per-lang keep rates for the stratified-sample query. */
  private val stratRates = Seq("en" -> 0.5, "de" -> 0.25, "zh" -> 0.05)

  /** Target token shares for the domain-mixture query. */
  private val mixShares = Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2,
    "fr" -> 0.1, "zh" -> 0.1)

  /** Planted contact string for the PII/URL queries: the synthetic
    * corpus carries no PII, so both engines append the identical
    * email/phone/IP/URL text and the redaction/extraction itself is
    * what the oracle checks. */
  private def piiText(id: Column, text: Column): Column =
    concat(text,
      lit(" contact user"), id.cast("string"),
      lit("@mail.example.com or +1 (555) 010-"),
      (lit(1000L) + pmod(id, lit(9000L))).cast("string"),
      lit(" from 10."), pmod(id, lit(256L)).cast("string"),
      lit(".0.1 see https://ex.example/d/"), id.cast("string"))

  /** DuckDB twins of TextFunctions.langId / qualityScore over column
    * `text` — shared by the corpus-clean and training-pipeline oracles. */
  private val langCaseSql: String = {
    val pats = TextFunctions.langStopwords.toMap
    def h(l: String) = s"len(regexp_extract_all(lower(text), '${pats(l)}'))"
    s"""CASE WHEN ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("fr")} AND ${h("en")} > 0 THEN 'en' WHEN ${h("de")} >= ${h("es")} AND ${h("de")} >= ${h("fr")} AND ${h("de")} > 0 THEN 'de' WHEN ${h("es")} >= ${h("fr")} AND ${h("es")} > 0 THEN 'es' WHEN ${h("fr")} > 0 THEN 'fr' ELSE 'und' END"""
  }

  private val qualitySqlExpr: String = {
    val pats = TextFunctions.langStopwords.toMap
    raw"""floor((0.5 * least(1.0, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)/64.0) + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)/greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0))) + 0.2 * least(1.0, 4.0*CAST(len(regexp_extract_all(lower(text), '${pats("en")}')) AS DOUBLE)/greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0))) * 10000.0 + 0.5) / 10000.0"""
  }

  /** DuckDB twin of [[piiText]]. */
  private def piiTextSql(idSql: String, textSql: String): String =
    s"$textSql || ' contact user' || CAST($idSql AS VARCHAR) || '@mail.example.com or +1 (555) 010-' || CAST(1000 + $idSql % 9000 AS VARCHAR) || ' from 10.' || CAST($idSql % 256 AS VARCHAR) || '.0.1 see https://ex.example/d/' || CAST($idSql AS VARCHAR)"
  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  /** Flattened conversation turns over the documents-derived fixture —
    * shared by every q_conv_* query so the registrations can't drift
    * from each other. */
  private def convTurns(s: SparkSession, dir: String) =
    graft.ops.Conversations.flatten(
      graft.ops.Conversations.fixture(docs(s, dir), col("doc_id"), col("text")),
      col("conv_id"), col("payload"))

  private val tsFull = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val tsFullSql = "%Y-%m-%d %H:%M:%S.%f"

  // ---- CDC wire synthesis (deterministic Debezium-shaped JSON built
  // from the events table, so unwrap output is oracle-checkable as a
  // round-trip identity) ----------------------------------------------------

  /** Debezium-enveloped engagement messages synthesized from events.
    * Repartitioned first: the parquet fixture is a single row group (one
    * read partition), while the real source is a multi-partition Kafka
    * topic — without this the per-row JSON work serializes on one core. */
  private def engagementWire(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).repartition(s.sparkContext.defaultParallelism)
    val after = struct(
      col("event_id").cast("string").as("id"),
      concat(lit("content-"), pmod(col("event_id"), lit(40))).as("content_id"),
      col("user_id").cast("string").as("user_id"),
      col("event_type").as("event_type"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("event_ts"),
      round(col("value") * 1000, 0).cast("long").as("duration_ms"),
      lit("web").as("device"),
      col("props").as("raw_payload"))
    e.select(to_json(struct(struct(
      after.as("after"),
      lit("c").as("op"),
      col("event_id").as("ts_ms")).as("payload"))).as("value"))
  }

  /** Debezium-enveloped content changes synthesized from events: every
    * 10th event_id is a delete tombstone (before-only, op='d'); ts_ms =
    * event_id gives a deterministic change order per key. */
  private def contentWire(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).repartition(s.sparkContext.defaultParallelism)
    val id = concat(lit("content-"), pmod(col("event_id"), lit(40)))
    val isDel = pmod(col("event_id"), lit(10)) === 0
    val after = struct(
      id.as("id"),
      concat(lit("slug-"), id).as("slug"),
      concat(lit("Title "), id).as("title"),
      element_at(array(lit("podcast"), lit("video"), lit("newsletter")),
        (pmod(col("user_id"), lit(3)) + 1).cast("int")).as("content_type"),
      round(col("value") * 10, 0).cast("int").as("length_seconds"),
      lit("2024-01-01T00:00:00.000000").as("publish_ts"))
    val before = struct(id.as("id"))
    e.select(to_json(struct(struct(
      when(isDel, before).as("before"),
      when(!isDel, after).as("after"),
      when(isDel, lit("d")).otherwise(lit("c")).as("op"),
      col("event_id").as("ts_ms")).as("payload"))).as("value"))
  }

  /** Oracle CTE replicating contentWire → unwrapContent → latestState. */
  private val dimStateSql: String =
    """WITH ch AS (SELECT 'content-' || CAST(event_id % 40 AS VARCHAR) AS id, 'slug-content-' || CAST(event_id % 40 AS VARCHAR) AS slug, 'Title content-' || CAST(event_id % 40 AS VARCHAR) AS title, CASE CAST(user_id % 3 AS INTEGER) WHEN 0 THEN 'podcast' WHEN 1 THEN 'video' ELSE 'newsletter' END AS content_type, CAST(round(value*10, 0) AS INTEGER) AS length_seconds, '2024-01-01T00:00:00.000000' AS publish_ts, event_id % 10 = 0 AS is_delete, event_id AS change_seq FROM events), dim AS (SELECT id, slug, title, content_type, length_seconds, publish_ts FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY change_seq DESC, is_delete DESC) AS rn FROM ch) WHERE rn = 1 AND NOT is_delete)"""

  // ---- registry -----------------------------------------------------------

  val all: Seq[GraftQuery] = Seq(

    // P1/P2/P8/P4 — Debezium envelope unwrap round-trip: synthesize
    // enveloped JSON from events, unwrap, and the oracle asserts the
    // identity directly against the source rows.
    GraftQuery("q_cdc_unwrap",
      (s, dir) => Envelope.unwrapEngagement(engagementWire(s, dir))
        .select(col("event_id"), col("user_id"), col("content_id"),
          col("event_type"), col("platform"), col("duration_ms"),
          date_format(col("event_ts"), tsFull).as("event_ts_str"),
          col("raw_payload")),
      Some(s"""SELECT event_id, CAST(user_id AS VARCHAR) AS user_id, 'content-' || CAST(event_id % 40 AS VARCHAR) AS content_id, event_type, 'web' AS platform, CAST(round(value*1000, 0) AS BIGINT) AS duration_ms, strftime(ts, '$tsFullSql') AS event_ts_str, props AS raw_payload FROM events""")),

    // P3/J1-state — content CDC unwrap incl. delete tombstones, folded
    // to latest-state-per-key (the dimension the enrichment joins).
    GraftQuery("q_cdc_dim_state",
      (s, dir) => ContentDim.latestState(Envelope.unwrapContent(contentWire(s, dir))),
      Some(s"""$dimStateSql SELECT * FROM dim""")),

    // SCD Type-2 dimension HISTORY from the same CDC stream the Type-1
    // fold consumes: each upsert's validity interval runs to the next
    // change of that key; deletes close without opening; the open
    // version is current. One per-key lead() window.
    GraftQuery("q_scd2_history",
      (s, dir) => ContentDim.scd2History(Envelope.unwrapContent(contentWire(s, dir)))
        .select(col("id"), col("content_type"), col("length_seconds"),
          col("valid_from_seq"), col("valid_to_seq"), col("is_current")),
      Some("""WITH ch AS (SELECT 'content-' || CAST(event_id % 40 AS VARCHAR) AS id, CASE CAST(user_id % 3 AS INTEGER) WHEN 0 THEN 'podcast' WHEN 1 THEN 'video' ELSE 'newsletter' END AS content_type, CAST(round(value*10, 0) AS INTEGER) AS length_seconds, event_id % 10 = 0 AS is_delete, event_id AS change_seq FROM events), h AS (SELECT *, lead(change_seq) OVER (PARTITION BY id ORDER BY change_seq, is_delete) AS valid_to_seq FROM ch) SELECT id, content_type, length_seconds, change_seq AS valid_from_seq, valid_to_seq, valid_to_seq IS NULL AS is_current FROM h WHERE NOT is_delete""")),

    // Point-in-time (time-travel) read against the SCD2 history: the
    // dimension state AS OF change_seq 500 — interval-containment
    // filter over the history, no extra shuffle.
    GraftQuery("q_scd2_asof",
      (s, dir) => ContentDim.scd2History(Envelope.unwrapContent(contentWire(s, dir)))
        .filter(col("valid_from_seq") <= 500 &&
          (col("valid_to_seq").isNull || col("valid_to_seq") > 500))
        .select(col("id"), col("content_type"), col("length_seconds"),
          col("valid_from_seq")),
      Some("""WITH ch AS (SELECT 'content-' || CAST(event_id % 40 AS VARCHAR) AS id, CASE CAST(user_id % 3 AS INTEGER) WHEN 0 THEN 'podcast' WHEN 1 THEN 'video' ELSE 'newsletter' END AS content_type, CAST(round(value*10, 0) AS INTEGER) AS length_seconds, event_id % 10 = 0 AS is_delete, event_id AS change_seq FROM events), h AS (SELECT *, lead(change_seq) OVER (PARTITION BY id ORDER BY change_seq, is_delete) AS valid_to_seq FROM ch) SELECT id, content_type, length_seconds, change_seq AS valid_from_seq FROM h WHERE NOT is_delete AND change_seq <= 500 AND (valid_to_seq IS NULL OR valid_to_seq > 500)""")),

    // §3.1 end-to-end (batch form): unwrap both streams, fold the dim,
    // broadcast-left-join enrich, derive P5/P6/P7.
    GraftQuery("q_cdc_enrich_e2e",
      (s, dir) => {
        val eng = Envelope.unwrapEngagement(engagementWire(s, dir))
        val dim = ContentDim.latestState(Envelope.unwrapContent(contentWire(s, dir)))
        Enrich.enrich(eng, dim)
          .select(col("event_id"), col("content_id"), col("content_type"),
            col("length_seconds"), col("engagement_seconds"),
            col("engagement_pct"), col("engagement_score"))
      },
      Some(s"""$dimStateSql, ev AS (SELECT event_id, 'content-' || CAST(event_id % 40 AS VARCHAR) AS content_id, event_type, CAST(round(value*1000, 0) AS BIGINT) AS duration_ms FROM events) SELECT event_id, ev.content_id, content_type, length_seconds, duration_ms/1000.0 AS engagement_seconds, CASE WHEN length_seconds > 0 THEN floor((duration_ms/1000.0/length_seconds*100)*100.0 + 0.5)/100.0 END AS engagement_pct, floor((CASE WHEN lower(event_type)='play' THEN 1.0 WHEN lower(event_type)='pause' THEN 0.5 WHEN lower(event_type)='finish' THEN 3.0 WHEN lower(event_type)='click' THEN 0.2 ELSE 1.0 END) * (CASE WHEN duration_ms > 0 THEN least(2.5, ln(duration_ms/1000.0 + 1)) ELSE 1.0 END) * 100.0 + 0.5)/100.0 AS engagement_score FROM ev LEFT JOIN dim ON ev.content_id = dim.id"""),
      headline = true),

    // A1 — tumbling-hour warehouse rollup (ClickHouse hourly MV analog).
    GraftQuery("q_hourly_rollup",
      (s, dir) => Rollups.hourlyRollup(ev(s, dir), col("ts"), Seq(col("event_type")), score),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type, count(*) AS cnt, CAST(sum(CAST($scoreSql AS DECIMAL(28,2))) AS DOUBLE) AS score_sum FROM events GROUP BY 1, 2"""),
      headline = true),

    // A6 — per-event-type counters (Redis INCR analog).
    GraftQuery("q_event_counters",
      (s, dir) => Rollups.counters(ev(s, dir), col("event_type")),
      Some("SELECT event_type, count(*) AS cnt FROM events GROUP BY 1")),

    // A3/A4 — cumulative per-(user, event_type) scores (Redis ZINCRBY analog).
    GraftQuery("q_user_scores",
      (s, dir) => Rollups.runningScores(ev(s, dir), Seq(col("user_id"), col("event_type")), score),
      Some(s"""SELECT user_id, event_type, CAST(sum(CAST($scoreSql AS DECIMAL(28,2))) AS DOUBLE) AS score_sum, count(*) AS events FROM events GROUP BY 1, 2""")),

    // A7 — latest event per user (Redis SETEX last-event analog).
    GraftQuery("q_last_event",
      (s, dir) => Rollups.lastPerKey(ev(s, dir), Seq(col("user_id")), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), tsFull).as("ts_str"), col("event_type"), col("value")),
      Some(s"""SELECT user_id, event_id, strftime(ts, '$tsFullSql') AS ts_str, event_type, value FROM events QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""")),

    // A2 — last-writer-wins dedup (ReplacingMergeTree analog), keyed by
    // (user_id, event_type), version = ts, tiebreak = event_id.
    GraftQuery("q_dedup_lww",
      (s, dir) => Dedup.lww(ev(s, dir), Seq(col("user_id"), col("event_type")), col("ts"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), tsFull).as("ts_str"), col("value")),
      Some(s"""SELECT user_id, event_type, event_id, strftime(ts, '$tsFullSql') AS ts_str, value FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""")),

    // Event-type transition matrix (behavior-flow / Sankey feed): per
    // user-ordered stream, count each (prev_type → type) bigram. The
    // lag window partitions by user (bounded state per user), the count
    // rolls up with map-side partials.
    GraftQuery("q_transition_matrix",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        ev(s, dir)
          .select(col("user_id"), col("event_type"),
            lag(col("event_type"), 1).over(w).as("prev_type"))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("cnt")) },
      Some("""SELECT prev_type, event_type, count(*) AS cnt FROM (SELECT event_type, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events) WHERE prev_type IS NOT NULL GROUP BY 1, 2""")),

    // Fixed-iteration exact-integer PageRank on the user↔content
    // bipartite engagement graph (crawl-frontier prioritization /
    // link-centrality selection signal). Micro-unit integer ranks +
    // floor-division contributions keep every partial sum order-
    // independent; each iteration is two node-keyed shuffles, both
    // sort-merge pinned (rank table is corpus-proportional).
    GraftQuery("q_pagerank",
      (s, dir) => graft.ops.Graph.pageRank(ev(s, dir), col("user_id"),
        concat(lit("content-"), pmod(col("event_id"), lit(40))), iters = 3),
      Some(graft.ops.Graph.pageRankOracleSql(iters = 3))),

    // Mode (most frequent value) per group with a total-order tiebreak
    // (highest count, then lowest value) — the ClickHouse topK(1)/
    // DuckDB mode() idiom in replayable relational form: two hash aggs
    // + a broadcast of the per-group maxima.
    GraftQuery("q_mode",
      (s, dir) => {
        val c = ev(s, dir).groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        val m = c.groupBy(col("event_type").as("et")).agg(max(col("cnt")).as("mx"))
        c.join(broadcast(m), col("event_type") === col("et") && col("cnt") === col("mx"))
          .groupBy(col("event_type"), col("mx").as("cnt"))
          .agg(min(col("user_id")).as("mode_user"))
          .select(col("event_type"), col("mode_user"), col("cnt")) },
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2), m AS (SELECT event_type AS et, max(cnt) AS mx FROM c GROUP BY 1) SELECT event_type, min(user_id) AS mode_user, mx AS cnt FROM c JOIN m ON event_type = et AND cnt = mx GROUP BY event_type, mx""")),

    // Pearson correlation + population covariance per group from EXACT
    // decimal moment sums (n, Sx, Sy, Sxx, Syy, Sxy) — the only
    // cross-engine-safe formulation: the five sums are exact on any
    // partitioning, and corr/covar derive through identical IEEE
    // arithmetic, floor-rounded at 6 decimals.
    GraftQuery("q_corr",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val agg = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(28, 2))).cast("double").as("sx"),
            sum(col("l_extendedprice").cast(DecimalType(28, 2))).cast("double").as("sy"),
            sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4)))
              .cast("double").as("sxx"),
            sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(28, 4)))
              .cast("double").as("syy"),
            sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(28, 4)))
              .cast("double").as("sxy"))
        val n = col("n").cast("double")
        val covP = (col("sxy") - col("sx") * col("sy") / n) / n
        val corr = (n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(n * col("sxx") - col("sx") * col("sx")) *
           sqrt(n * col("syy") - col("sy") * col("sy")))
        agg.select(col("l_returnflag"), col("n"),
          (floor(corr * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("corr_qty_price"),
          (floor(covP * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("covar_pop")) },
      Some("""WITH a AS (SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sx, CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sy, CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx, CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy, CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy FROM lineitem GROUP BY 1) SELECT l_returnflag, n, floor((CAST(n AS DOUBLE)*sxy - sx*sy) / (sqrt(CAST(n AS DOUBLE)*sxx - sx*sx) * sqrt(CAST(n AS DOUBLE)*syy - sy*sy)) * 1000000.0 + 0.5)/1000000.0 AS corr_qty_price, floor((sxy - sx*sy/CAST(n AS DOUBLE))/CAST(n AS DOUBLE) * 1000000.0 + 0.5)/1000000.0 AS covar_pop FROM a""")),

    // Equi-width histogram of value per event_type (the ClickHouse
    // histogram()/width_bucket dashboard idiom): global min/max from
    // one exact agg broadcast back, 10 buckets, last bucket closed.
    // Bucket arithmetic is identical IEEE on identical doubles.
    GraftQuery("q_histogram",
      (s, dir) => {
        val b = ev(s, dir).agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        val nb = 10
        val w = (col("hi") - col("lo")) / lit(nb)
        ev(s, dir).crossJoin(broadcast(b))
          .select(col("event_type"),
            least(greatest(floor((col("value") - col("lo")) / w), lit(0.0)),
              lit((nb - 1).toDouble)).cast("int").as("bucket"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("cnt")) },
      Some("""WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events) SELECT event_type, CAST(least(greatest(floor((value - lo) / ((hi - lo) / 10)), 0.0), 9.0) AS INTEGER) AS bucket, count(*) AS cnt FROM events, b GROUP BY 1, 2""")),

    // Per-group z-score anomaly detection (the monitoring-dashboard
    // staple over the events stream): group moments come from EXACT
    // decimal sums (S, SS) — order-independent on any partitioning —
    // then mean/sd/z derive through identical IEEE arithmetic in both
    // engines; z floor-rounds at 4 decimals and the outlier flag
    // compares the rounded value. One partial+final agg (5 rows)
    // broadcast back over the facts.
    GraftQuery("q_anomaly_zscore",
      (s, dir) => {
        val stats = ev(s, dir).groupBy(col("event_type").as("et"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(28, 2))).cast("double").as("s1"),
            sum((col("value") * col("value")).cast(DecimalType(28, 4)))
              .cast("double").as("s2"))
        val mean = col("s1") / col("n")
        val variance = (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
        ev(s, dir).join(broadcast(stats), col("event_type") === col("et"))
          .select(col("event_id"), col("event_type"), col("value"),
            when(variance > 0,
              floor((col("value") - mean) / sqrt(variance) * lit(10000.0) + lit(0.5))
                / lit(10000.0)).as("z"))
          .withColumn("is_outlier", when(col("z").isNotNull, abs(col("z")) > lit(3.0)))
      },
      Some("""WITH stats AS (SELECT event_type AS et, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS s1, CAST(sum(CAST(value*value AS DECIMAL(28,4))) AS DOUBLE) AS s2 FROM events GROUP BY 1), z AS (SELECT event_id, event_type, value, CASE WHEN (s2 - s1*s1/n)/(n-1) > 0 THEN floor((value - s1/n)/sqrt((s2 - s1*s1/n)/(n-1)) * 10000.0 + 0.5)/10000.0 END AS z FROM events JOIN stats ON event_type = et) SELECT event_id, event_type, value, z, CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_outlier FROM z""")),

    // CollapsingMergeTree FINAL analog (completing the MergeTree
    // family: Replacing = q_dedup_lww, Summing = q_summing_mv). A
    // collapsing stream is synthesized from events per (user_id,
    // event_type) — every event writes its +1 state and a -1 cancel of
    // the predecessor — then collapsed back in ONE hash aggregate
    // (sign sum + max_by over +1 rows). FINAL must equal the
    // independent last-writer-wins formulation, which is the oracle.
    GraftQuery("q_collapsing",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val base = ev(s, dir).select(col("user_id"), col("event_type"),
          col("event_id"), col("ts"), col("value"))
        val withPrev = base.withColumn("prev",
          lag(struct(col("event_id"), col("ts"), col("value")), 1).over(w))
        val plus = withPrev.select(col("user_id"), col("event_type"),
          col("event_id"), col("ts"), col("value"), lit(1).as("sign"))
        val minus = withPrev.filter(col("prev").isNotNull)
          .select(col("user_id"), col("event_type"),
            col("prev.event_id").as("event_id"), col("prev.ts").as("ts"),
            col("prev.value").as("value"), lit(-1).as("sign"))
        Dedup.collapse(plus.unionByName(minus),
            Seq(col("user_id"), col("event_type")), col("sign"),
            version = struct(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"), col("event_id"),
            date_format(col("ts"), tsFull).as("ts_str"), col("value"))
      },
      Some(s"""SELECT user_id, event_type, event_id, strftime(ts, '$tsFullSql') AS ts_str, value FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""")),

    // A5 — per-minute top-k by score (Redis minute-bucket ZINCRBY analog).
    GraftQuery("q_minute_topk",
      (s, dir) => Rollups.minuteTopK(ev(s, dir), col("ts"), col("user_id"), score, 3)
        .withColumn("rk", col("rk").cast("int")),
      Some(s"""SELECT minute_bucket, key, score_sum, CAST(rk AS INTEGER) AS rk FROM (SELECT minute_bucket, key, score_sum, row_number() OVER (PARTITION BY minute_bucket ORDER BY score_sum DESC, key ASC) AS rk FROM (SELECT strftime(ts, '%Y%m%d%H%M') AS minute_bucket, user_id AS key, CAST(sum(CAST($scoreSql AS DECIMAL(28,2))) AS DOUBLE) AS score_sum FROM events GROUP BY 1, 2)) WHERE rk <= 3"""),
      headline = true),

    // A5 via the custom bounded-heap aggregate (partial+final hash agg,
    // no per-group full sort): top-3 events by score per minute.
    GraftQuery("q_topk_custom_agg",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        ev(s, dir)
          .select(date_format(col("ts"), "yyyyMMddHHmm").as("minute_bucket"),
            col("event_id"), score.as("score"))
          .groupBy(col("minute_bucket"))
          .agg(expr("bounded_top_k(score, event_id, 3)").as("topk"))
          .select(col("minute_bucket"), posexplode(col("topk")).as(Seq("pos", "p")))
          .select(col("minute_bucket"), col("p.key").as("event_id"),
            col("p.score").as("score"), (col("pos") + 1).cast("int").as("rk"))
      },
      Some(s"""SELECT minute_bucket, event_id, score, CAST(rk AS INTEGER) AS rk FROM (SELECT strftime(ts, '%Y%m%d%H%M') AS minute_bucket, event_id, $scoreSql AS score, row_number() OVER (PARTITION BY strftime(ts, '%Y%m%d%H%M') ORDER BY $scoreSql DESC, event_id ASC) AS rk FROM events) WHERE rk <= 3"""),
      headline = true),

    // J1 — broadcast left-outer enrichment join (stream x dimension
    // analog: events fact x customer dim) + P5/P6/P7 derived columns.
    GraftQuery("q_enrich_join",
      (s, dir) => {
        val e = ev(s, dir)
        val c = Tables.customer(s, dir)
        e.join(broadcast(c), e("user_id") === c("c_custkey"), "left")
          .select(e("event_id"), e("user_id"), c("c_name"), c("c_mktsegment"),
            col("event_type"),
            Engagement.engagementScore(col("event_type"), col("value") * 1000).as("engagement_score"),
            Engagement.engagementSeconds(col("value") * 1000).as("engagement_seconds"),
            Engagement.engagementPct(col("value") * 1000, col("c_acctbal")).as("engagement_pct"))
      },
      Some(s"""SELECT event_id, user_id, c_name, c_mktsegment, event_type, $scoreSql AS engagement_score, (value*1000)/1000.0 AS engagement_seconds, CASE WHEN c_acctbal > 0 THEN floor(((value*1000)/1000.0/c_acctbal*100)*100.0 + 0.5)/100.0 END AS engagement_pct FROM events LEFT JOIN customer ON user_id = c_custkey"""),
      headline = true),

    // P1/JSON — schema-on-read JSON field extraction from the payload.
    GraftQuery("q_json_extract",
      (s, dir) => ev(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")),
      Some("""SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k FROM events""")),

    // P8 — event-id normalization (numeric-string path; hash fallback is
    // unit-tested, not oracle-matched since the hash family differs).
    GraftQuery("q_event_id_norm",
      (s, dir) => ev(s, dir).select(col("event_id"),
        Engagement.normalizeEventId(col("event_id").cast("string")).as("norm_id")),
      Some("SELECT event_id, CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS norm_id FROM events")),

    // P2 — multi-format timestamp parse, round-tripped through an
    // ISO-8601 micros string.
    GraftQuery("q_ts_parse_multi",
      (s, dir) => ev(s, dir).select(col("event_id"),
        date_format(
          Engagement.parseTimestampMulti(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
          tsFull).as("parsed")),
      Some(s"""SELECT event_id, strftime(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%f'), '$tsFullSql') AS parsed FROM events""")),

    // TPC-H Q6 shape: selective scan + arithmetic aggregate, no join —
    // the canonical pushdown/pruning benchmark.
    GraftQuery("q6_filter_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00") &&
                col("l_shipdate") < lit("1998-01-01 00:00:00") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .agg(Rollups.decSum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("cnt")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue, count(*) AS cnt FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
      headline = true),

    // arg_max/arg_min aggregates (A7 as an aggregate function):
    // deterministic via a fixed-width (ts || id) ordering key.
    GraftQuery("q_argmax",
      (s, dir) => {
        val ordKey = concat(date_format(col("ts"), tsFull),
          lpad(col("event_id").cast("string"), 10, "0"))
        ev(s, dir).groupBy(col("user_id"))
          .agg(max_by(col("event_id"), ordKey).as("last_event_id"),
            min_by(col("event_id"), ordKey).as("first_event_id"))
      },
      Some(s"""SELECT user_id, arg_max(event_id, strftime(ts, '$tsFullSql') || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS last_event_id, arg_min(event_id, strftime(ts, '$tsFullSql') || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS first_event_id FROM events GROUP BY 1""")),

    // Gap-based sessionization (5-minute inactivity gap) per user —
    // Spark session_window vs an islands-formulation oracle.
    GraftQuery("q_session_window",
      (s, dir) => Rollups.sessionize(ev(s, dir), col("ts"), col("user_id"), "5 minutes"),
      Some(s"""WITH marked AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess FROM events), sess AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM marked) SELECT strftime(min(ts), '$tsFullSql') AS session_start, strftime(max(ts) + INTERVAL 5 MINUTE, '$tsFullSql') AS session_end, user_id, count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS value_sum FROM sess GROUP BY user_id, sid"""),
      headline = true),

    // ClickHouse windowFunnel analog: view → click → purchase within 7
    // days of the first view, chained first-match semantics. Relational
    // stage-chain form (no per-user collected arrays): each stage is a
    // user-keyed partial+final hash agg over an ever-shrinking survivor
    // set, so the 100 TB cost is bounded by the step-1 population.
    GraftQuery("q_funnel",
      (s, dir) => graft.ops.Funnel.windowFunnel(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        window = "7 DAYS"),
      Some(graft.ops.Funnel.windowFunnelOracleSql(
        "view", "click", "purchase", "7 DAY")),
      headline = true),

    // windowFunnel default ClickHouse mode: same-timestamp events may
    // chain consecutive steps (>= comparison).
    GraftQuery("q_funnel_ties",
      (s, dir) => graft.ops.Funnel.windowFunnel(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        window = "7 DAYS", allowTies = true),
      Some(graft.ops.Funnel.windowFunnelOracleSql(
        "view", "click", "purchase", "7 DAY", op = ">="))),

    // windowFunnel 'strict_order' mode: any non-next-step event
    // between chained steps breaks the chain (ties don't break —
    // equal timestamps carry no order).
    GraftQuery("q_funnel_strict",
      (s, dir) => graft.ops.Funnel.windowFunnel(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        window = "7 DAYS", strictOrder = true),
      Some(graft.ops.Funnel.windowFunnelStrictOracleSql(
        "view", "click", "purchase", "7 DAY")),
      headline = true),

    // windowFunnel 'strict_dedup' mode: only a repeat of an already-
    // matched condition interrupts; condition-free events pass.
    GraftQuery("q_funnel_dedup",
      (s, dir) => graft.ops.Funnel.windowFunnel(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        window = "7 DAYS", strictDedup = true),
      Some(graft.ops.Funnel.windowFunnelDedupOracleSql(
        "view", "click", "purchase", "7 DAY"))),

    // ClickHouse retention analog: day-0 cohorts by first event date,
    // re-activity at +1/+3/+7 days. Shuffle volume = distinct
    // (user, active-day) pairs, not events.
    GraftQuery("q_retention",
      (s, dir) => graft.ops.Funnel.retention(ev(s, dir),
        col("user_id"), col("ts"), offsets = Seq(1, 3, 7)),
      Some(graft.ops.Funnel.retentionOracleSql(Seq(1, 3, 7)))),

    // Skew-resistant salted aggregation — must equal the direct sum.
    GraftQuery("q_salted_agg",
      (s, dir) => Rollups.saltedSum(ev(s, dir), Seq(col("event_type")),
        col("value"), saltSrc = col("event_id")),
      Some("""SELECT event_type, CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS value_sum, count(*) AS cnt FROM events GROUP BY 1""")),

    // Key-distribution profiler: the measurement that decides when the
    // salting above is needed. Top-10 hottest keys + exact global
    // moments (share/skew-ratio/CV in integer micros; IEEE sqrt over
    // exact moments — both engines correctly round the same value).
    GraftQuery("q_key_skew",
      (s, dir) => Skew.keySkewProfile(ev(s, dir), col("user_id")),
      Some(Skew.keySkewProfileOracleSql("user_id", "events"))),

    // ---- TPC-H-style relational coverage (scale posture checks) ----------

    GraftQuery("q1_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Rollups.decSum(col("l_quantity"), 2).as("sum_qty"),
          Rollups.decSum(col("l_extendedprice"), 2).as("sum_base_price"),
          Rollups.decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          Rollups.decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(28, 2))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty, CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price, CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_qty, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2"""),
      headline = true),

    // TPC-H Q3 shape: 3-way join, filtered dims, grouped revenue, top-10.
    GraftQuery("q3_topk",
      (s, dir) => {
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-01-01 00:00:00"))
        val joined = l
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        val grouped = joined.groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
            col("o_orderpriority"))
          .agg(Rollups.decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        grouped.orderBy(col("revenue").desc, col("l_orderkey").asc).limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""),
      headline = true),

    // TPC-H Q5 shape: 6-way snowflake join (region→nation→customer→
    // orders→lineitem→supplier with the co-nation constraint), revenue
    // per nation. Dims broadcast; the fact table never shuffles pre-agg.
    GraftQuery("q5_join",
      (s, dir) => {
        val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        val n = Tables.nation(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
                  col("o_orderdate") < lit("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(su),
            l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(Rollups.decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      },
      Some("""SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY 1"""),
      headline = true),

    // Per-group top-k (rank window over a grouped aggregate): top-3
    // parts by retail price within each brand.
    GraftQuery("q_part_topk",
      (s, dir) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        Tables.part(s, dir)
          .select(col("p_brand"), col("p_partkey"), col("p_name"), col("p_retailprice"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .withColumn("rk", col("rk").cast("int"))
      },
      Some("""SELECT p_brand, p_partkey, p_name, p_retailprice, CAST(rk AS INTEGER) AS rk FROM (SELECT p_brand, p_partkey, p_name, p_retailprice, row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rk FROM part) WHERE rk <= 3""")),

    // Analytic-function sweep: ranking distributions + frame endpoints.
    GraftQuery("q_window_ranks",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ev(s, dir).select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("value")).over(full).as("first_v"),
          last(col("value")).over(full).as("last_v"))
      },
      Some("""SELECT user_id, event_id, CAST(ntile(4) OVER w AS INTEGER) AS quartile, percent_rank() OVER w AS pr, cume_dist() OVER w AS cd, first_value(value) OVER wf AS first_v, last_value(value) OVER wf AS last_v FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), wf AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // Correlated aggregate subquery (TPC-H Q2 shape): events at their
    // user's personal maximum value. Window-max formulation: one shuffle
    // on user_id, no broadcast — the join-the-aggregate-back alternative
    // broadcasts one row PER USER, which grows with the key space and
    // becomes a memory bomb at fact scale.
    GraftQuery("q_correlated_max",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        ev(s, dir)
          .withColumn("__mv", max(col("value")).over(w))
          .filter(col("value") === col("__mv"))
          .select(col("user_id"), col("event_id"), col("value"))
      },
      Some("""SELECT user_id, event_id, value FROM events e WHERE value = (SELECT max(value) FROM events m WHERE m.user_id = e.user_id)""")),

    // Skew-salted shuffle JOIN (the join-side complement of
    // q_salted_agg): fact rows salt 8 ways, the dim replicates 8x, the
    // hot key spreads over 8 reducers. Salt never escapes — the result
    // is row-identical to the plain join, which is what the oracle is.
    GraftQuery("q_skew_join",
      (s, dir) => {
        val fact = Tables.lineitem(s, dir).select(
          col("l_partkey").as("partkey"), col("l_extendedprice"),
          col("l_discount"), col("l_orderkey"), col("l_linenumber"))
        val dim = Tables.part(s, dir).select(
          col("p_partkey").as("partkey"), col("p_brand"))
        graft.ops.Skew.saltedJoin(fact, dim, "partkey",
            saltSrc = col("l_orderkey") * lit(7) + col("l_linenumber"),
            buckets = 8)
          .groupBy(col("p_brand"))
          .agg(Rollups.decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("cnt"))
      },
      Some("""SELECT p_brand, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue, count(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""")),

    // Time-based RANGE window frame (the sliding-aggregate idiom ROWS
    // frames can't express): trailing 1-hour sum/count per user. Both
    // engines frame on epoch MICROS (the ts precision), so peer-row
    // and boundary semantics are identical; the sum goes through the
    // DECIMAL cast for order-independent exactness.
    GraftQuery("q_sliding_window",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
          .rangeBetween(-3599999999L, 0)
        ev(s, dir).select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(28, 2))).over(w).cast("double")
            .as("trail_1h_sum"),
          count(lit(1)).over(w).as("trail_1h_cnt"))
      },
      Some("""SELECT user_id, event_id, CAST(sum(CAST(value AS DECIMAL(28,2))) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail_1h_sum, count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS trail_1h_cnt FROM events""")),

    GraftQuery("q_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, dir).select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(28, 2))).over(wf).cast("double").as("running_value"),
          row_number().over(w).as("rn"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
      },
      Some("""SELECT user_id, event_id, CAST(sum(CAST(value AS DECIMAL(28,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn, lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value, lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value FROM events"""),
      headline = true),

    // Hierarchical aggregates: ROLLUP over lineitem flags.
    GraftQuery("q_rollup",
      (s, dir) => Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), Rollups.decSum(col("l_quantity"), 2).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    GraftQuery("q_cube",
      (s, dir) => Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), Rollups.decSum(col("o_totalprice"), 2).as("sum_price")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // GROUPING SETS — exercised through the SQL frontend (temp views +
    // spark.sql), proving the whole surface is SQL-reachable.
    GraftQuery("q_grouping_sets",
      (s, dir) => {
        Tables.createViews(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
                 FROM lineitem
                 GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")),

    // Regex group extraction + multi-granularity date truncation.
    GraftQuery("q_regexp_extract",
      (s, dir) => ev(s, dir).select(col("event_id"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int").as("k_extracted"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week_start"),
        date_format(date_trunc("quarter", col("ts")), "yyyy-MM-dd").as("quarter_start"),
        date_format(date_trunc("month", col("ts")), "yyyy-MM-dd").as("month_start")),
      Some(raw"""SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k_extracted, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start, strftime(date_trunc('quarter', ts), '%Y-%m-%d') AS quarter_start, strftime(date_trunc('month', ts), '%Y-%m-%d') AS month_start FROM events""")),

    // Semi/anti joins: customers with vs without orders.
    GraftQuery("q_semi_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit("has_orders").as("status"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit("no_orders").as("status"))
        semi.unionByName(anti)
      },
      Some("""SELECT c_custkey, 'has_orders' AS status FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) UNION ALL SELECT c_custkey, 'no_orders' AS status FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // ClickHouse LEFT ANY JOIN: one row per part, paired with its
    // tiebreak-minimal lineitem (cheapest sale; order/line break
    // residual ties). Reduce-then-join — the right side collapses to
    // one row per key BEFORE the join, so join amplification is
    // structurally impossible (see ops/AnyJoin.scala).
    GraftQuery("q_any_join",
      (s, dir) => graft.ops.AnyJoin.anyJoin(
        Tables.part(s, dir).select(col("p_partkey"), col("p_name")),
        Tables.lineitem(s, dir).select(col("l_partkey").as("p_partkey"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        keys = Seq("p_partkey"),
        tiebreak = Seq("l_extendedprice", "l_orderkey", "l_linenumber")),
      Some("""SELECT p_partkey, p_name, l_extendedprice, l_orderkey, l_linenumber FROM part LEFT JOIN (SELECT l_partkey, l_extendedprice, l_orderkey, l_linenumber FROM (SELECT l_partkey, l_extendedprice, l_orderkey, l_linenumber, row_number() OVER (PARTITION BY l_partkey ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn FROM lineitem) WHERE rn = 1) r ON p_partkey = r.l_partkey""")),

    // ClickHouse array-function surface (arrayCumSum / arrayDifference
    // / arrayCompact / arrayUniq) as codegen'd higher-order functions,
    // exploded so the oracle checks the array semantics relationally.
    GraftQuery("q_array_funcs",
      (s, dir) => graft.ops.ArrayFuncs.sweep(ev(s, dir)),
      Some(graft.ops.ArrayFuncs.sweepOracleSql)),

    // Bitwise aggregates (ClickHouse groupBitAnd/Or/Xor) over exact
    // value-millisecond longs — one map-side-combinable hash agg.
    GraftQuery("q_bit_agg",
      (s, dir) => ev(s, dir)
        .select(col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(expr("bit_and(v)").as("band"), expr("bit_or(v)").as("bor"),
          expr("bit_xor(v)").as("bxor"), count(lit(1)).as("cnt")),
      Some("""SELECT event_type, bit_and(v) AS band, bit_or(v) AS bor, bit_xor(v) AS bxor, count(*) AS cnt FROM (SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v FROM events) GROUP BY event_type""")),

    // KMV / bottom-k theta sketch: per-type distinct event ids with
    // the full k-set replayed bit-for-bit, estimate included.
    GraftQuery("q_kmv_distinct",
      (s, dir) => graft.ops.Sketches.kmvDistinct(
        ev(s, dir), col("event_type"), col("event_id"), k = 64),
      Some(graft.ops.Sketches.kmvOracleSql("event_type", "event_id",
        "events", k = 64))),

    // Point-in-polygon (crossing number, concave dart, exact integer
    // µ-degrees) over the synthesized event coordinates.
    GraftQuery("q_point_in_polygon",
      (s, dir) => graft.ops.Spatial.pointInPolygon(
        ev(s, dir).select(col("event_id"),
          round((pmod(col("event_id") * 37, lit(3600)).cast("double") / 10
            - 180) * 1e6, 0).cast("long").as("lon_u"),
          round((pmod(col("event_id") * 91, lit(1700)).cast("double") / 10
            - 85) * 1e6, 0).cast("long").as("lat_u")),
        col("event_id"), col("lon_u"), col("lat_u"), Queries.dartPolygon),
      Some(graft.ops.Spatial.pointInPolygonOracleSql(
        polygonPointsSql, Queries.dartPolygon))),

    // Multi-key record linkage (entity resolution): deterministic
    // account fixture over customer (re-registrations sharing a phone,
    // second accounts sharing an email), per-key size-capped blocking,
    // transitive closure via the measured connected-components rung.
    // A %15 customer resolves to a 3-record entity only through the
    // phone→email transitive step — the property exact-key dedup lacks.
    GraftQuery("q_record_linkage",
      (s, dir) => graft.ops.Linkage.resolve(
        graft.ops.Linkage.customerRecords(Tables.customer(s, dir)),
        col("rec_id"), Seq(col("phone"), col("email"))),
      Some(graft.ops.Linkage.customerResolveOracleSql())),

    // Set operations: user ids seen in events vs the customer key space.
    GraftQuery("q_setops",
      (s, dir) => {
        val ev_ids = ev(s, dir).select(col("user_id").as("id"))
        val cust = Tables.customer(s, dir).select(col("c_custkey").as("id"))
        ev_ids.intersect(cust).select(col("id"), lit("both").as("src"))
          .unionByName(ev_ids.distinct().except(cust).select(col("id"), lit("events_only").as("src")))
          .unionByName(cust.except(ev_ids).select(col("id"), lit("customer_only").as("src")))
      },
      Some("""SELECT id, 'both' AS src FROM (SELECT user_id AS id FROM events INTERSECT SELECT c_custkey FROM customer) UNION ALL SELECT id, 'events_only' AS src FROM (SELECT DISTINCT user_id AS id FROM events EXCEPT SELECT c_custkey FROM customer) UNION ALL SELECT id, 'customer_only' AS src FROM (SELECT c_custkey AS id FROM customer EXCEPT SELECT user_id FROM events)""")),

    // Full-outer join: per-user event spend vs the customer roster —
    // unmatched sides survive with nulls on both wings.
    GraftQuery("q_full_outer",
      (s, dir) => {
        val spend = ev(s, dir).groupBy(col("user_id"))
          .agg(Rollups.decSum(col("value"), 2).as("total_value"))
        val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
        spend.join(c, spend("user_id") === c("c_custkey"), "full_outer")
          .select(col("user_id"), col("c_custkey"), col("c_name"), col("total_value"))
      },
      Some("""SELECT user_id, c_custkey, c_name, total_value FROM (SELECT user_id, CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value FROM events GROUP BY 1) FULL OUTER JOIN customer ON user_id = c_custkey""")),

    // Cartesian product (explicit cross join).
    GraftQuery("q_cross_join",
      (s, dir) => Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
        .select(col("r_name"), col("n_name")),
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation")),

    // Distinct aggregates (hash-distinct per group, map-side partials).
    GraftQuery("q_distinct_agg",
      (s, dir) => ev(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(date_format(col("ts"), "yyyyMMddHHmm")).as("n_minutes"),
          count(lit(1)).as("cnt")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(DISTINCT strftime(ts, '%Y%m%d%H%M')) AS n_minutes, count(*) AS cnt FROM events GROUP BY 1""")),

    // Pivot: per-user event-type count matrix (explicit value list for
    // deterministic output columns).
    GraftQuery("q_pivot",
      (s, dir) => ev(s, dir).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count(),
      // NULLIF: a user with zero events of a type gets NULL from Spark's
      // pivot (no cell) but 0 from a FILTER count — align on NULL.
      Some("""SELECT user_id, NULLIF(count(*) FILTER (WHERE event_type = 'click'), 0) AS click, NULLIF(count(*) FILTER (WHERE event_type = 'error'), 0) AS error, NULLIF(count(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase, NULLIF(count(*) FILTER (WHERE event_type = 'signup'), 0) AS signup, NULLIF(count(*) FILTER (WHERE event_type = 'view'), 0) AS view FROM events GROUP BY 1""")),

    // UNPIVOT (melt) — the §2.6 inverse of pivot: the wide per-type
    // count table melts back to long form, dropping the NULL cells
    // pivot created, so pivot ∘ unpivot must equal the plain grouped
    // counts — which is exactly the oracle.
    GraftQuery("q_unpivot",
      (s, dir) => ev(s, dir).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "cnt")
        .filter(col("cnt").isNotNull),
      Some("""SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2""")),

    // Ordered collect/string aggregation (deterministic via sort).
    GraftQuery("q_string_agg",
      (s, dir) => ev(s, dir).groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
          size(collect_set(col("event_type"))).as("n_types")),
      Some("""SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types FROM events GROUP BY 1""")),

    // §2.7 scalar surface: string + date function parity sweep.
    GraftQuery("q_scalar_funcs",
      (s, dir) => ev(s, dir).select(
        col("event_id"),
        lpad(col("user_id").cast("string"), 6, "0").as("padded"),
        concat(upper(col("event_type")), lit("#"), lower(col("event_type"))).as("cc"),
        substring(col("event_type"), 1, 3).as("sub"),
        date_format(col("ts"), "yyyyMM").as("yyyymm"),
        date_format(col("ts") - expr("INTERVAL 10 minutes"), tsFull).as("ts_minus_10m"),
        unix_millis(col("ts")).as("epoch_ms"),
        abs(col("user_id") - 75).as("abs_diff"),
        least(col("value"), lit(50.0)).as("capped")),
      Some(s"""SELECT event_id, lpad(CAST(user_id AS VARCHAR), 6, '0') AS padded, upper(event_type) || '#' || lower(event_type) AS cc, substring(event_type, 1, 3) AS sub, strftime(ts, '%Y%m') AS yyyymm, strftime(ts - INTERVAL 10 MINUTE, '$tsFullSql') AS ts_minus_10m, epoch_ms(ts) AS epoch_ms, abs(user_id - 75) AS abs_diff, least(value, 50.0) AS capped FROM events""")),

    // ---- documents: text analysis + dedup ladder --------------------------

    GraftQuery("q_token_count",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars")),
      Some("""SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens, CAST(length(text) AS INTEGER) AS len_chars FROM documents""")),

    GraftQuery("q_fingerprint",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id, substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp FROM documents""")),

    GraftQuery("q_lang_id",
      (s, dir) => docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred")),
      Some {
        val pats = TextFunctions.langStopwords.toMap
        def h(l: String) = s"len(regexp_extract_all(lower(text), '${pats(l)}'))"
        s"""SELECT doc_id, lang, CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en > 0 THEN 'en' WHEN hits_de >= hits_es AND hits_de >= hits_fr AND hits_de > 0 THEN 'de' WHEN hits_es >= hits_fr AND hits_es > 0 THEN 'es' WHEN hits_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM (SELECT doc_id, lang, ${h("en")} AS hits_en, ${h("de")} AS hits_de, ${h("es")} AS hits_es, ${h("fr")} AS hits_fr FROM documents)"""
      }),

    GraftQuery("q_quality_score",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality")),
      Some(qualityScoreOracleSql)),

    // BPE-ish subword token estimate: letter-runs, digit-runs, and
    // single punctuation each count as one token (the cheap proxy for
    // tokenizer-budget accounting in a corpus pipeline).
    GraftQuery("q_token_bpe",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe"),
        TextFunctions.tokenCount(col("text")).as("n_ws")),
      Some(raw"""SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_ws FROM documents""")),

    // Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): one
    // corpus pass reduces to the vocabulary-bounded (word, freq) table,
    // then each merge iteration is a vocab-sized weighted pair count
    // with a 1-row argmax — the only driver materialization. Total
    // integer tie-breaks make the learned merges (and the SQL replay)
    // deterministic.
    GraftQuery("q_bpe_train",
      (s, dir) => graft.ops.Bpe.learnMerges(docs(s, dir), col("doc_id"),
        col("text"), nMerges = 4),
      Some(graft.ops.Bpe.learnMergesOracleSql(nMerges = 4))),

    // BPE ENCODING under the learned merges: the corpus token stream
    // joins the vocab-sized final-representation table on the word key
    // (sort-merge pinned — the vocab is corpus-derived, the
    // mis-broadcast class SCALE.md documents). Per-doc whitespace word
    // count + subword token count, the tokenizer-budget ledger a
    // training pipeline reads.
    GraftQuery("q_bpe_encode",
      (s, dir) => graft.ops.Bpe.encode(docs(s, dir), col("doc_id"),
        col("text"), nMerges = 4),
      Some(graft.ops.Bpe.encodeOracleSql(nMerges = 4))),

    // Unigram-LM (SentencePiece-style) tokenizer TRAINING: substring
    // seed counts over the Heaps'-bounded word vocab, deterministic
    // Viterbi-EM rounds on integer-quantized log-probs, count-ranked
    // pruning to the target vocab with the single-char coverage floor.
    // Oracle replays the identical EM with recursive-CTE Viterbi DPs.
    GraftQuery("q_unigram_train",
      (s, dir) => graft.ops.UnigramTok.trainPieces(docs(s, dir),
        col("doc_id"), col("text"),
        maxPieceLen = 4, seedSize = 48, vocabSize = 32, emIters = 2),
      Some(graft.ops.UnigramTok.trainOracleSql(
        maxPieceLen = 4, seedSize = 48, vocabSize = 32, emIters = 2))),

    // Unigram-LM ENCODING under the trained pieces: Viterbi-segment
    // each distinct word once (vocab-sized work), then the corpus token
    // stream joins the per-word piece counts on the word key
    // (sort-merge pinned — corpus side never broadcasts).
    GraftQuery("q_unigram_encode",
      (s, dir) => graft.ops.UnigramTok.encode(docs(s, dir),
        col("doc_id"), col("text"),
        maxPieceLen = 4, seedSize = 48, vocabSize = 32, emIters = 2),
      Some(graft.ops.UnigramTok.encodeOracleSql(
        maxPieceLen = 4, seedSize = 48, vocabSize = 32, emIters = 2))),

    // Tokenizer REFRESH loop (batch-trained / stream-served /
    // version-stamped, the Dsir precedent persisted through
    // SnapshotStore): v1 trains on the first-arrived 60% of the corpus
    // and scores those arrivals; a mid-stream re-train publishes v2
    // over everything seen, and later arrivals encode under v2 — no
    // restart, the reader just sees the store's next atomic snapshot.
    // Each doc carries the version that scored it. The oracle replays
    // one full train+encode chain per published model over the same
    // scopes (StreamingSpec drives the same swap through an actual
    // MemoryStream and asserts parity with this batch decomposition).
    GraftQuery("q_unigram_refresh",
      (s, dir) => {
        val tmpP = scratchDir("graft_uvref")
        val store = s"$tmpP/vocab"
        val d = docs(s, dir)
        val early = d.filter(pmod(col("doc_id"), lit(5)) < 3)
        graft.ops.UnigramTok.publishVocab(s, store, early,
          col("doc_id"), col("text"), version = 1L)
        val (v1, vocab1) = graft.ops.UnigramTok.currentVocab(s, store).get
        val enc12 = graft.ops.UnigramTok.encodeWithVocab(early,
            col("doc_id"), col("text"), vocab1)
          .withColumn("vocab_version", lit(v1))
        graft.ops.UnigramTok.publishVocab(s, store, d,
          col("doc_id"), col("text"), version = 2L)
        val (v2, vocab2) = graft.ops.UnigramTok.currentVocab(s, store).get
        val enc3 = graft.ops.UnigramTok.encodeWithVocab(
            d.filter(pmod(col("doc_id"), lit(5)) >= 3),
            col("doc_id"), col("text"), vocab2)
          .withColumn("vocab_version", lit(v2))
        enc12.unionByName(enc3)
      },
      Some(graft.ops.UnigramTok.refreshOracleSql(Seq(
        ("doc_id % 5 < 3", "doc_id % 5 < 3", 1L),
        ("TRUE", "doc_id % 5 >= 3", 2L))))),

    // Sequence PACKING (concat-and-chunk, the GPT-style batching step
    // between corpus and loader): docs concatenate in doc_id order and
    // the token stream cuts into 256-token training sequences; the
    // ledger says where every doc landed (sequence, offset, span).
    // The prefix sum is the two-phase bucketed cumulative — never a
    // global one-task window. seqLen 256 vs the fixture's ~tens-of-
    // tokens docs makes both classes real: most docs pack interior,
    // some cross a boundary (FixtureCoverageSpec pins both).
    GraftQuery("q_pack_sequences",
      (s, dir) => graft.ops.Packing.packSequences(docs(s, dir),
        col("doc_id"), col("text"), seqLen = 256L),
      Some(graft.ops.Packing.packOracleSql(256L))),

    // The packing-efficiency readout a seqLen sweep compares: one row
    // of docs/tokens/sequences/boundary-crossusers/last-fill.
    GraftQuery("q_pack_stats",
      (s, dir) => graft.ops.Packing.packStats(
        graft.ops.Packing.packSequences(docs(s, dir),
          col("doc_id"), col("text"), seqLen = 256L), seqLen = 256L),
      Some(graft.ops.Packing.packStatsOracleSql(256L))),

    // Polynomial rolling-hash fingerprint over the token stream
    // (order-sensitive, unlike the md5 content fingerprint): a left fold
    // of (acc*131 + tokenHash) mod (2^31-1).
    GraftQuery("q_rolling_hash",
      (s, dir) => {
        val P = 2147483647L
        docs(s, dir).select(col("doc_id"),
          aggregate(
            transform(TextFunctions.tokens(col("text")),
              t => TextFunctions.md5Long(t) % lit(P)),
            lit(0L),
            (a, h) => (a * lit(131L) + h) % lit(P)).as("rhash"))
      },
      Some(raw"""SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(regexp_split_to_array(trim(text), '\s+'), t -> CAST('0x'||substring(md5(t),1,15) AS BIGINT) % 2147483647)), (a, b) -> (a * 131 + b) % 2147483647) AS rhash FROM documents""")),

    GraftQuery("q_dedup_exact",
      (s, dir) => Dedup.exactGroups(docs(s, dir), col("text"), col("doc_id")),
      Some("SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents GROUP BY 1"),
      headline = true),

    // Multimodal plumbing: opaque binary payload column + typed metadata.
    // (Decode/extract stages live in graft.multimodal with a stubbed codec;
    // this query exercises the binary-column path both engines can check.)
    GraftQuery("q_multimodal_meta",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha_hex")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, sha256(text) AS sha_hex FROM documents""")),

    // The composed training-data pipeline in one query: exact dedup →
    // MinHash near-dup drop (remove the higher id of each verified
    // pair) → language-ID + quality annotation → quality gate.
    GraftQuery("q_corpus_clean",
      (s, dir) => {
        val d = docs(s, dir)
        val exactKeep = Dedup.exactDedup(d, col("text"), col("doc_id"))
        val nearDrops = graft.dedup.MinHash
          .verifiedPairs(d, col("doc_id"), col("text"))
          .select(col("doc_b").as("doc_id")).distinct()
        exactKeep.join(nearDrops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            TextFunctions.langId(col("text")).as("lang_pred"),
            TextFunctions.qualityScore(col("text")).as("quality"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"))
          .filter(col("quality") >= 0.5)
      },
      Some {
        raw"""${graft.dedup.MinHash.oracleCtes()},
near_drops AS (SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= ${graft.dedup.MinHash.Config().threshold}),
exact_keep AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn FROM documents) WHERE rn = 1)
SELECT doc_id, lang_pred, quality, n_tokens FROM (SELECT doc_id, $langCaseSql AS lang_pred, $qualitySqlExpr AS quality, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens FROM exact_keep WHERE doc_id NOT IN (SELECT doc_id FROM near_drops)) WHERE quality >= 0.5"""
      },
      headline = true),

    // AS-OF (event-time temporal) join: every event picks the latest
    // version row at-or-before its timestamp per key — SCD-2-style
    // point-in-time enrichment, implemented union+window (ONE key
    // shuffle, no range-join row explosion; Spark has no native ASOF).
    // Version history synthesized deterministically from events; the
    // oracle uses DuckDB's native ASOF LEFT JOIN.
    GraftQuery("q_asof_join",
      (s, dir) => {
        val e = ev(s, dir)
        val key = concat(lit("content-"), pmod(col("event_id"), lit(40)))
        val left = e.select(col("event_id"), key.as("content_key"), col("ts"))
        val versions = e.filter(pmod(col("event_id"), lit(7)) === 0)
          .select(key.as("vkey"), col("ts").as("vts"),
            (floor(col("value") * 100 + lit(0.5)) / 100).as("price"),
            col("event_id").as("vid"))
        val deduped = Dedup.lww(versions, Seq(col("vkey"), col("vts")),
            col("vid"), col("vid"))
          .select("vkey", "vts", "price")
        Enrich.asOfJoin(left, col("content_key"), col("ts"),
            deduped, col("vkey"), col("vts"))
          .select(col("event_id"), col("content_key"),
            date_format(col("ts"), tsFull).as("ts_str"),
            col("asof.price").as("price_asof"),
            date_format(col("asof.vts"), tsFull).as("version_ts"))
      },
      Some(s"""WITH l AS (SELECT event_id, 'content-' || CAST(event_id % 40 AS VARCHAR) AS content_key, ts FROM events),
v AS (SELECT 'content-' || CAST(event_id % 40 AS VARCHAR) AS vkey, ts AS vts, floor(value*100 + 0.5)/100 AS price FROM events WHERE event_id % 7 = 0 QUALIFY row_number() OVER (PARTITION BY vkey, ts ORDER BY event_id DESC) = 1)
SELECT event_id, content_key, strftime(ts, '$tsFullSql') AS ts_str, price AS price_asof, strftime(vts, '$tsFullSql') AS version_ts FROM l ASOF LEFT JOIN v ON l.content_key = v.vkey AND l.ts >= v.vts""")),

    // Range (point-in-interval) join, bucketed: Spark compiles the bare
    // theta form to a BroadcastNestedLoopJoin (O(|l|·|r|)); here both
    // sides key by a coarse time bucket and an ordinary equi-join
    // localizes candidates (PlanSpec pins no-BNLJ). Intervals
    // synthesized deterministically from events; exact-theta oracle.
    GraftQuery("q_range_join",
      (s, dir) => {
        val e = ev(s, dir)
        val pts = e.select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        val iv = e.filter(pmod(col("event_id"), lit(11)) === 0)
          .select(col("event_id").as("interval_id"),
            unix_micros(col("ts")).as("start_us"),
            (unix_micros(col("ts")) +
              (pmod(col("event_id"), lit(10)) + 1) * lit(60000000L)).as("end_us"))
        graft.ops.RangeJoin.pointInInterval(pts, col("ts_us"), iv,
            col("start_us"), col("end_us"), bucketWidth = 600000000L) // 10 min
          .select("event_id", "interval_id", "ts_us", "start_us", "end_us")
      },
      Some("""WITH p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
iv AS (SELECT event_id AS interval_id, epoch_us(ts) AS start_us, epoch_us(ts) + (event_id % 10 + 1) * 60000000 AS end_us FROM events WHERE event_id % 11 = 0)
SELECT p.event_id, interval_id, ts_us, start_us, end_us FROM p JOIN iv ON ts_us >= start_us AND ts_us < end_us""")),

    // Stream-stream interval join, batch twin: click→purchase
    // attribution within 1 h, SAME code path as the streaming form
    // (Pipeline.attributionJoin — withWatermark is a no-op on batch),
    // so the oracle gates the exact operator the stream runs. The
    // equi key (user_id) makes it a keyed shuffle join, not a
    // nested loop; StreamingSpec asserts MemoryStream parity and
    // post-watermark outer emission.
    GraftQuery("q_attribution_join",
      (s, dir) => {
        val e = ev(s, dir)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.streaming.Pipeline.attributionJoin(clicks, purchases, "1 hour")
          .select(col("click_id"), col("user_id"),
            date_format(col("click_ts"), tsFull).as("click_ts_str"),
            col("purchase_id"),
            date_format(col("purchase_ts"), tsFull).as("purchase_ts_str"))
      },
      Some(s"""SELECT c.event_id AS click_id, c.user_id AS user_id, strftime(c.ts, '$tsFullSql') AS click_ts_str, p.event_id AS purchase_id, strftime(p.ts, '$tsFullSql') AS purchase_ts_str FROM events c JOIN events p ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR WHERE c.event_type = 'click' AND p.event_type = 'purchase'""")),

    // Avro wire contract (engagement_event.avsc): events → Avro binary
    // records (graft_avro_encode, native Expression over Avro core) →
    // decode (graft_avro_decode, PERMISSIVE + union-normalized
    // event_id) → identity. The oracle checks the round-trip against
    // the source rows directly, proving both wire directions.
    // File-format round-trips beyond parquet/avro (§2.1/§2.9): the
    // projected events table writes to CSV (header, quoted) AND JSON
    // Lines, reads back with the explicit schema, and the output is the
    // three-way intersection base ∩ csv ∩ jsonl — identical to the
    // identity projection (the oracle) ONLY if both formats round-trip
    // every value (doubles survive via shortest-repr printing, which
    // Double.parseDouble inverts exactly). Side-effecting scratch dir
    // (deleted on JVM exit) like q_snapshot_changes — never headline.
    GraftQuery("q_file_roundtrip",
      (s, dir) => {
        val tmpPath = scratchDir("graft_filert")
        val base = ev(s, dir).select(col("event_id"),
          date_format(col("ts"), tsFull).as("ts_str"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        base.write.mode("overwrite").option("header", "true")
          .csv(s"$tmpPath/csv")
        base.write.mode("overwrite").json(s"$tmpPath/jsonl")
        val schema = base.schema
        val fromCsv = s.read.schema(schema).option("header", "true")
          .csv(s"$tmpPath/csv")
        val fromJson = s.read.schema(schema).json(s"$tmpPath/jsonl")
        base.intersect(fromCsv).intersect(fromJson)
      },
      Some(s"""SELECT event_id, strftime(ts, '$tsFullSql') AS ts_str, user_id, event_type, value, props FROM events""")),

    GraftQuery("q_avro_roundtrip",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        val rec = struct(
          col("event_id").cast("string").as("event_id"),
          concat(lit("content-"), pmod(col("event_id"), lit(40))).as("content_id"),
          col("user_id").cast("string").as("user_id"),
          col("event_type").as("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("event_ts"),
          round(col("value") * 1000, 0).cast("long").as("duration_ms"),
          lit("web").as("device"),
          score.as("engagement_score"),
          col("props").as("raw_payload"),
          lit(null).cast("string").as("processed_ts"))
        ev(s, dir)
          .select(col("event_id").as("orig_id"),
            call_function("graft_avro_decode",
              call_function("graft_avro_encode", rec)).as("r"))
          .select(col("orig_id"), col("r.event_id").as("event_id_str"),
            col("r.content_id").as("content_id"), col("r.event_type").as("event_type"),
            col("r.event_ts").as("event_ts"), col("r.duration_ms").as("duration_ms"),
            col("r.engagement_score").as("engagement_score"),
            col("r.raw_payload").as("raw_payload"))
      },
      Some(s"""SELECT event_id AS orig_id, CAST(event_id AS VARCHAR) AS event_id_str, 'content-' || CAST(event_id % 40 AS VARCHAR) AS content_id, event_type, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS event_ts, CAST(round(value*1000, 0) AS BIGINT) AS duration_ms, $scoreSql AS engagement_score, props AS raw_payload FROM events""")),

    // Deterministic train/val/test split: hash-mod assignment — a
    // document keeps its fold across corpus versions and clusters (no
    // RNG state). Pure per-row map.
    GraftQuery("q_split_assign",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        Corpus.splitAssign(col("doc_id")).as("split")),
      Some(s"SELECT doc_id, ${Corpus.splitAssignSql("doc_id")} AS split FROM documents")),

    // Concat-and-chunk sequence packing (pretraining layout): absolute
    // token offsets + sequence spans per document via a TWO-PHASE
    // distributed prefix sum (per-bucket offsets joined back sort-merge,
    // never a global single-partition window over the corpus).
    GraftQuery("q_seq_pack",
      (s, dir) => Corpus.concatChunk(docs(s, dir), col("doc_id"),
        TextFunctions.tokenCount(col("text")), seqLen = 512, bucketSize = 100),
      Some(Corpus.concatChunkOracleSql(512))),

    // Deterministic stratified sampling: per-lang keep rates via
    // hash-mod in basis points — reproducible on any cluster, and new
    // documents never flip old keep decisions (unlike rand()).
    GraftQuery("q_stratified_sample",
      (s, dir) => docs(s, dir)
        .filter(Corpus.sampleKeep(col("lang"), col("doc_id"), stratRates, 0.10))
        .select(col("doc_id"), col("lang"), col("source")),
      Some(s"""SELECT doc_id, lang, source FROM documents WHERE ${Corpus.sampleKeepSql("lang", "doc_id", stratRates, 0.10)}""")),

    // PII scrub: email/IPv4/phone → typed placeholders, fixed pass
    // order, portable RE2/Java regex subset. The synthetic corpus has
    // no PII, so both engines plant identical contact strings first —
    // the redaction itself is what's under test.
    GraftQuery("q_pii_redact",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextFunctions.redactPii(piiText(col("doc_id"), col("text"))).as("clean")),
      Some(s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(${piiTextSql("doc_id", "text")}, '${TextFunctions.EmailRe}', '<EMAIL>', 'g'), '${TextFunctions.Ipv4Re}', '<IP>', 'g'), '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS clean FROM documents""")),

    // URL extraction over the same planted text (pipe-joined for a
    // hash-stable scalar column).
    GraftQuery("q_url_extract",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        array_join(TextFunctions.extractUrls(piiText(col("doc_id"), col("text"))), "|")
          .as("urls")),
      Some(s"""SELECT doc_id, array_to_string(regexp_extract_all(${piiTextSql("doc_id", "text")}, '${TextFunctions.UrlRe}'), '|') AS urls FROM documents""")),

    // Incremental (CDC-style) read of the SnapshotStore manifest log:
    // two commits into a scratch store, then changesBetween reads back
    // exactly the appended batch — a manifest set-difference, no scan
    // of unchanged files.
    // NOTE: unlike every other registered query this one has a
    // filesystem side effect (it writes a scratch snapshot store per
    // invocation) — never mark it headline/benched. The scratch dir is
    // deleted on JVM exit so repeated verify runs don't leak disk.
    GraftQuery("q_snapshot_changes",
      (s, dir) => {
        val tmp = scratchDir("graft_snapchg")
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
        graft.sinks.SnapshotStore.commitReplace(s, tmp, d.filter(col("doc_id") < 300))
        graft.sinks.SnapshotStore.commitAppend(s, tmp, d.filter(col("doc_id") >= 300))
        graft.sinks.SnapshotStore.changesBetween(s, tmp, 0L, 1L)
          .getOrElse(sys.error("empty snapshot diff"))
      },
      Some("SELECT doc_id, lang, source FROM documents WHERE doc_id >= 300")),

    // K1+S3 over a real JDBC engine (embedded Derby, in /opt/spark/jars):
    // hourly counters written with df.write.jdbc (per-task batched
    // INSERT transactions, the reference's PreparedStatement batcher),
    // then read back with a 4-way range-partitioned spark.read.jdbc —
    // one connection per partition, the parallel-scan posture a big
    // dimension needs. Exactness survives the round trip: BIGINT and
    // DOUBLE are identity-mapped, VARCHAR forced over Derby's default
    // CLOB for the GROUP BY key.
    // NOTE: filesystem-free but side-effecting like q_snapshot_changes
    // (a JVM-lifetime in-memory Derby database of ≤ ~100 aggregate
    // rows per invocation; the JDBC relation is lazy, so the database
    // must outlive the returned DataFrame) — never headline/benched.
    GraftQuery("q_jdbc_roundtrip",
      (s, dir) => {
        val db = "graftjdbc" + java.util.UUID.randomUUID.toString.replace("-", "")
        val url = graft.sinks.Jdbc.derbyMemUrl(db)
        val agg = ev(s, dir)
          .groupBy(hour(col("ts")).as("hour_of_day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), Rollups.decSum(score).as("score_sum"))
        graft.sinks.Jdbc.writeTable(agg, url, "hourly_counters",
          Some("event_type VARCHAR(64)"))
        graft.sources.Sources.dimSnapshotJdbc(s, url, "hourly_counters",
          Some(("hour_of_day", 0L, 24L, 4)))
      },
      Some(s"""SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day, event_type, count(*) AS cnt, CAST(sum(CAST($scoreSql AS DECIMAL(28,2))) AS DOUBLE) AS score_sum FROM events GROUP BY 1, 2""")),

    // Z-order layout + multi-dimensional box read: events re-laid-out
    // along the (user_id, value) Morton curve, then a 2-D box read that
    // prunes the file list on BOTH columns' manifest stats before the
    // exact row filter. The z value is layout-only (dropped pre-write),
    // so the result is exactly the plain WHERE — which is the oracle;
    // the measured skipping ratios (each dim prunes; a linear layout's
    // secondary dim doesn't) are asserted in ZOrderSpec/ScaleProbeSpec.
    // Side-effecting (scratch store per invocation) like
    // q_snapshot_changes — never headline/benched.
    GraftQuery("q_snapshot_zorder",
      (s, dir) => {
        val base = scratchDir("graft_zorder") + "/store"
        val d = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
        graft.sinks.ZOrder.commitReplaceZOrdered(s, base, d,
          Seq("user_id", "value"), numFiles = 8)
        graft.sinks.ZOrder.readBox(s, base,
            Seq(("user_id", 5.0, 40.0), ("value", 0.0, 5.0)))
          .getOrElse(sys.error("z-order box read skipped every file"))
          .select("event_id", "user_id", "value")
      },
      Some("SELECT event_id, user_id, value FROM events WHERE user_id BETWEEN 5 AND 40 AND value BETWEEN 0 AND 5")),

    // Targeted delete with stats-pruned PARTIAL rewrite (right-to-be-
    // forgotten / retention purge): events committed user-clustered
    // (range-partitioned on user_id, per-file stats recorded), then
    // users 10–20 are purged — only the files whose [min,max] can hold
    // them are rewritten, the rest carry over by reference (ratio
    // asserted in SnapshotStoreSpec). The read-back must equal the
    // plain anti-filter, which is the oracle. Side-effecting scratch
    // store per invocation — never headline/benched.
    GraftQuery("q_snapshot_delete",
      (s, dir) => {
        val base = scratchDir("graft_snapdel") + "/store"
        val d = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
          .repartitionByRange(8, col("user_id"))
        graft.sinks.SnapshotStore.commitReplace(s, base, d,
          statsCols = Seq("user_id"))
        graft.sinks.SnapshotStore.deleteRange(s, base, "user_id", 10.0, 20.0,
          statsCols = Seq("user_id"))
        graft.sinks.SnapshotStore.read(s, base)
          .getOrElse(sys.error("empty store after delete"))
          .select("event_id", "user_id", "value")
      },
      Some("SELECT event_id, user_id, value FROM events WHERE user_id IS NULL OR NOT (user_id BETWEEN 10 AND 20)")),

    // ClickHouse TTL ... GROUP BY analog: rows older than day 180 age
    // into weekly (event_type) sums inside the store — one atomic
    // stats-pruned partial rewrite; fresh rows stay raw.
    GraftQuery("q_snapshot_ttl",
      (s, dir) => {
        val base = scratchDir("graft_snapttl") + "/store"
        val d = ev(s, dir).select(
          datediff(col("ts"), lit("2024-01-01")).cast("long").as("day_no"),
          col("event_type"),
          floor(col("value") * 1000 + 0.5).cast("long").as("v"))
          .repartitionByRange(8, col("day_no"))
        graft.sinks.SnapshotStore.commitReplace(s, base, d,
          statsCols = Seq("day_no"))
        graft.sinks.SnapshotStore.ttlExpire(s, base, "day_no", 180.0,
          expired => expired
            .groupBy((col("day_no") - pmod(col("day_no"), lit(7))).as("day_no"),
              col("event_type"))
            .agg(sum(col("v")).as("v"))
            .select(col("day_no"), col("event_type"), col("v")),
          statsCols = Seq("day_no"))
        graft.sinks.SnapshotStore.read(s, base)
          .getOrElse(sys.error("empty store after TTL"))
          .select("day_no", "event_type", "v")
      },
      Some("""WITH b AS (SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d, event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v FROM events) SELECT d - d % 7 AS day_no, event_type, CAST(sum(v) AS BIGINT) AS v FROM b WHERE d < 180 GROUP BY 1, 2 UNION ALL SELECT d AS day_no, event_type, v FROM b WHERE d >= 180""")),

    // ALTER TABLE UPDATE mutation analog: SET evaluated against the
    // OLD row, stats-pruned partial rewrite (only key-range-overlapping
    // files rewritten — pinned in SnapshotStoreSpec), NULL predicate
    // keeps. Read-back equals the CASE-WHEN projection, the oracle.
    // Side-effecting scratch store per invocation — never headline.
    GraftQuery("q_snapshot_update",
      (s, dir) => {
        val base = scratchDir("graft_snapupd") + "/store"
        val d = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
          .repartitionByRange(8, col("user_id"))
        graft.sinks.SnapshotStore.commitReplace(s, base, d,
          statsCols = Seq("user_id"))
        graft.sinks.SnapshotStore.updateRange(s, base, "user_id", 10.0, 20.0,
          set = Map("value" -> (col("value") * 2 + col("user_id"))),
          statsCols = Seq("user_id"))
        graft.sinks.SnapshotStore.read(s, base)
          .getOrElse(sys.error("empty store after update"))
          .select("event_id", "user_id", "value")
      },
      Some("SELECT event_id, user_id, CASE WHEN user_id BETWEEN 10 AND 20 THEN value * 2 + user_id ELSE value END AS value FROM events")),

    // Keyed MERGE (CDC apply): one batch of upserts (+1000 to value for
    // event_id % 97 = 0) and deletes (event_id % 101 = 0; delete wins
    // on overlap) applied to a key-clustered store via the stats-pruned
    // partial rewrite — the affected-file set is computed distributed
    // (change keys × broadcast manifest ranges, only file NAMES reach
    // the driver). Read-back equals the SQL merge semantics, which is
    // the oracle; the pruning ratio on a clustered batch is pinned in
    // SnapshotStoreSpec. Side-effecting (scratch store per invocation,
    // deleted on JVM exit) but HEADLINE since round 11: the bench
    // deliberately times the whole write+merge+read cycle — the keyed
    // MERGE is the CDC hot path, and a regression in the stats-pruned
    // partial rewrite should move a tracked number, not hide. Scratch
    // churn at bench scale (6 temp stores per bench run) is trivial.
    GraftQuery("q_snapshot_merge",
      (s, dir) => {
        val base = scratchDir("graft_snapmerge") + "/store"
        val d = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
          .repartitionByRange(8, col("event_id"))
        graft.sinks.SnapshotStore.commitReplace(s, base, d,
          statsCols = Seq("event_id"))
        val changes = ev(s, dir)
          .select(col("event_id"), col("user_id"), col("value"))
          .filter(pmod(col("event_id"), lit(97)) === 0 ||
            pmod(col("event_id"), lit(101)) === 0)
          .withColumn("__del", pmod(col("event_id"), lit(101)) === 0)
          .withColumn("value",
            when(col("__del"), col("value")).otherwise(col("value") + 1000))
        graft.sinks.SnapshotStore.mergeKeyed(s, base, changes, "event_id",
          col("__del"), statsCols = Seq("event_id"))
        graft.sinks.SnapshotStore.read(s, base)
          .getOrElse(sys.error("empty store after merge"))
          .select("event_id", "user_id", "value")
      },
      Some("SELECT event_id, user_id, CASE WHEN event_id % 97 = 0 AND event_id % 101 <> 0 THEN value + 1000 ELSE value END AS value FROM events WHERE event_id % 101 <> 0"),
      headline = true),

    // Benchmark decontamination: every 20th document's 10-token prefix
    // plays the "eval benchmark"; docs sharing any 5-gram with it are
    // flagged. Eval grams broadcast (benchmarks are small); the corpus
    // never shuffles — only matched grams do.
    GraftQuery("q_decontaminate",
      (s, dir) => {
        // r16: heavy per-row n-gram work over a single-row-group scan —
        // parallelize it (guide §2.5; no-op on many-row-group inputs,
        // rows unchanged; measured 1.3→0.9 s at sf0.1). Probed and
        // REJECTED for q_corpus_clean (+1 s: its MinHash subtree pays
        // its own early exchanges, the upfront shuffle just doubles
        // them) and q_dedup_minhash (+0.3 s, same reason).
        val d = graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id"))
        val eval = d.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select(concat_ws(" ",
            slice(TextFunctions.tokens(col("text")), 1, 10)).as("eval_text"))
        Decontaminate.overlap(d, col("doc_id"), col("text"),
          eval, col("eval_text"), n = 5)
      },
      Some(Decontaminate.oracleSql("doc_id % 20 = 0", 10, n = 5)),
      headline = true),

    // Character-distribution Shannon entropy (micro-bits, exact BIGINT):
    // low entropy flags repeated-char/gibberish docs. Per-term integer
    // quantization makes the sum independent of the distinct-char
    // enumeration order, which engines do not agree on.
    GraftQuery("q_char_entropy",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        TextFunctions.charEntropyMicros(col("text")).as("entropy_micros")),
      Some(TextFunctions.charEntropyOracleSql)),

    // Cross-document duplication rate: fraction of each doc's 5-grams
    // occurring in any other doc — the boilerplate/template signal
    // document-level dedup misses. The one honest corpus-volume shuffle
    // in the text ladder (gram DF with map-side partials).
    GraftQuery("q_gram_dup_rate",
      (s, dir) => Decontaminate.gramDupRate(docs(s, dir), col("doc_id"),
        col("text"), n = 5),
      Some(Decontaminate.gramDupRateOracleSql(n = 5))),

    // Gopher rule-based quality filter (Rae et al. 2021): per-doc
    // signals + composite verdict at the published bounds, pure per-row
    // map; the verdict compares floor-rounded values so the oracle can
    // never flip at a boundary.
    GraftQuery("q_gopher_rules",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), TextFunctions.gopherSignals(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_tok"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.alpha_ratio"), col("g.stop_hits"),
          col("g.passes")),
      Some(TextFunctions.gopherSignalsOracleSql)),

    // C4-style span-level exact dedup: only the globally-first
    // occurrence of every 8-token span survives; documents reassemble
    // from surviving spans (emptied docs stay visible, kept_spans = 0).
    // First-occurrence is a min-struct partial+final hash agg keyed by
    // span — never a global row_number sort.
    GraftQuery("q_para_dedup",
      (s, dir) => Corpus.spanDedup(docs(s, dir), col("doc_id"), col("text"),
        spanTokens = 8),
      Some(Corpus.spanDedupOracleSql(spanTokens = 8)),
      headline = true),

    // Per-source boilerplate removal (C4/CCNet "repeated-line" pass):
    // spans whose within-source doc frequency reaches the threshold
    // are templates — ALL occurrences removed (vs q_para_dedup's
    // keep-first). One (source, span)-keyed shuffle family, anti-join
    // pinned sort-merge (template volume is corpus-unbounded).
    GraftQuery("q_boilerplate",
      (s, dir) => Corpus.boilerplateClean(docs(s, dir), col("doc_id"),
        col("text"), col("source"), spanTokens = 4, minDf = 2L),
      Some(Corpus.boilerplateCleanOracleSql(spanTokens = 4, minDf = 2L))),

    // Corpus-trained unigram LM quality signal: mean token log-prob per
    // document, per-token log-probs quantized to exact BIGINTs so the
    // sum is order-independent across engines.
    GraftQuery("q_unigram_logprob",
      (s, dir) => UnigramLm.scoreDocs(docs(s, dir), col("doc_id"), col("text")),
      Some(UnigramLm.oracleSql),
      headline = true),

    // Tokenizer-coverage: top-20 vocabulary (count desc, token asc — a
    // replayable total order) broadcast back over the corpus, per-doc
    // OOV rate. Vocab is a hash agg + TakeOrdered, never a full sort.
    GraftQuery("q_vocab_oov",
      (s, dir) => UnigramLm.vocabOov(docs(s, dir), col("doc_id"), col("text"),
        vocabSize = 20),
      Some(UnigramLm.vocabOovOracleSql(vocabSize = 20))),

    // CCNet-style perplexity bucketing: head/middle/tail thirds by
    // unigram-LM score. Tertile cuts come from ONE exact-percentile
    // aggregate broadcast back — never a global ntile window.
    GraftQuery("q_ppl_buckets",
      (s, dir) => UnigramLm.pplBuckets(docs(s, dir), col("doc_id"), col("text")),
      Some(UnigramLm.pplBucketsOracleSql)),

    // Corpus-trained bigram LM (the rung above q_unigram_logprob toward
    // CCNet's KenLM): p(w2|w1) from bigram/context counts, per-doc mean
    // log-prob via the same quantize-then-exact-sum protocol. Bigrams
    // build in-row (no corpus shuffle for sequence structure).
    GraftQuery("q_bigram_logprob",
      (s, dir) => graft.ops.Ngrams.bigramScoreDocs(docs(s, dir),
        col("doc_id"), col("text")),
      Some(graft.ops.Ngrams.bigramOracleSql)),

    // PMI collocation mining: top-50 adjacent pairs by pointwise mutual
    // information (min support 5), marginals from the bigram table
    // itself, global top-k as TakeOrdered. Ranks compare on the
    // 1e-6-quantized BIGINT, (w1, w2)-tiebroken.
    GraftQuery("q_pmi_collocations",
      (s, dir) => graft.ops.Ngrams.pmiCollocations(docs(s, dir),
        col("doc_id"), col("text"), minCount = 5L, k = 50),
      Some(graft.ops.Ngrams.pmiOracleSql(minCount = 5L, k = 50))),

    // DSIR importance weights (Xie et al. 2023): hashed-unigram
    // log p_target/p_raw per document, target = English docs. Bucket
    // log-ratios quantized to BIGINT then summed exactly — the
    // UnigramLm order-independence trick; the 64-row ratio table
    // broadcasts back over the corpus.
    GraftQuery("q_dsir_weights",
      (s, dir) => graft.ops.Dsir.importanceWeights(docs(s, dir),
        col("doc_id"), col("text"), col("lang") === "en"),
      Some(graft.ops.Dsir.oracleSql("lang = 'en'"))),

    // DSIR selection: keep the top-30% of documents by importance
    // log-weight; the cut is one exact-percentile aggregate broadcast
    // back (never a global sort), weights compare as exact BIGINTs.
    GraftQuery("q_dsir_select",
      (s, dir) => graft.ops.Dsir.selectTop(docs(s, dir),
        col("doc_id"), col("text"), col("lang") === "en", keepFraction = 0.3),
      Some(graft.ops.Dsir.selectOracleSql("lang = 'en'", keepFraction = 0.3))),

    // Cross-document n-gram novelty: fraction of each doc's distinct
    // trigrams first seen (min doc_id) in that doc — the crawl-triage
    // "is this new content" signal. Gram-keyed co-partitioned
    // count+join, map-side combine, nothing collected.
    GraftQuery("q_novelty",
      (s, dir) => Selection.novelty(docs(s, dir), col("doc_id"), col("text"),
        n = 3),
      Some(Selection.noveltyOracleSql(n = 3))),

    // Source-level quality gating, planning step (domain-blocklist
    // analog): per-source doc/token counts + mean quality from EXACT
    // integer micro-quality sums, keep verdict at the bounds. One tiny
    // groupBy(source) aggregate.
    GraftQuery("q_source_stats",
      (s, dir) => Selection.sourceStats(docs(s, dir), col("doc_id"),
        col("text"), col("source"), minMeanQMicros = 7000L, minDocs = 20L),
      Some(Selection.sourceStatsOracleSql(minMeanQMicros = 7000L, minDocs = 20L))),

    // ... and its apply step: keep docs from passing sources via a
    // broadcast semi-join (stats side is one row per source) — the
    // corpus never shuffles.
    GraftQuery("q_source_filter",
      (s, dir) => Selection.sourceFilter(docs(s, dir), col("doc_id"),
        col("text"), col("source"), minMeanQMicros = 7000L, minDocs = 20L),
      Some(Selection.sourceFilterOracleSql(minMeanQMicros = 7000L, minDocs = 20L))),

    // Deterministic weighted sampling without replacement (Efraimidis–
    // Spirakis A-ES): key = ln(u_md5)/token_count quantized to exact
    // micros, global top-50 as TakeOrdered (per-partition heaps — no
    // global sort).
    GraftQuery("q_weighted_sample",
      (s, dir) => Selection.weightedSample(docs(s, dir), col("doc_id"),
        col("text"), k = 50),
      Some(Selection.weightedSampleOracleSql(k = 50))),

    // Token-budget greedy selection: (quality desc, doc_id) order via a
    // composite BIGINT key riding the q_seq_pack two-phase distributed
    // prefix sum — cumulative tokens vs an 8k budget, kept verdict per
    // doc. Fourth composed selection pipeline (quality signal → order →
    // budget cut), no corpus-wide window.
    GraftQuery("q_budget_select",
      (s, dir) => Selection.budgetSelect(docs(s, dir), col("doc_id"),
        col("text"), budgetTokens = 8000L),
      Some(Selection.budgetSelectOracleSql(budgetTokens = 8000L))),

    // Deterministic global training-order shuffle + shard plan: seeded
    // md5 keys, two-phase bucket-offset positions (no corpus-wide
    // window), shard = pos div docsPerShard — the "shuffle and write N
    // ordered shards" step before sequence packing.
    GraftQuery("q_shuffle_order",
      (s, dir) => Selection.shuffleOrder(docs(s, dir), col("doc_id"),
        seed = "s0", nBuckets = 64, docsPerShard = 100L),
      Some(Selection.shuffleOrderOracleSql(seed = "s0", nBuckets = 64,
        docsPerShard = 100L))),

    // Duplicated-substring spans (distributed ExactSubstr shape, Lee et
    // al. 2022): sliding 6-token windows at ANY offset (unlike
    // q_para_dedup's fixed grid) seen >1× in the corpus, merged per doc
    // into maximal intervals via gaps-and-islands — the removal step is
    // then a per-row slice. Islands window partitions by doc only.
    GraftQuery("q_dup_spans",
      (s, dir) => Selection.dupSpans(docs(s, dir), col("doc_id"), col("text"),
        windowTokens = 6),
      Some(Selection.dupSpansOracleSql(windowTokens = 6))),

    // ... and its removal step (ExactSubstr end-to-end): tokens inside
    // any marked interval are excised and the survivors reassembled —
    // per-doc interval arrays stay bounded, the token filter is one
    // per-row HOF, and the corpus joins the interval table on doc_id.
    GraftQuery("q_dup_spans_clean",
      (s, dir) => Selection.dupSpansClean(docs(s, dir), col("doc_id"),
        col("text"), windowTokens = 6),
      Some(Selection.dupSpansCleanOracleSql(windowTokens = 6))),

    // Embedding-space decontamination (the semantic rung above
    // q_decontaminate's n-gram overlap): max quantized cosine of every
    // corpus vector against a broadcast eval set (vec_id < 10), flagged
    // at 0.8. Map-side max keyed by corpus id; the corpus never
    // shuffles.
    GraftQuery("q_decont_semantic",
      (s, dir) => Selection.semanticDecontaminate(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isEval = col("vec_id") < 10, threshold = 0.8),
      Some(Selection.semanticDecontaminateOracleSql("vec_id < 10", threshold = 0.8))),

    // Model-based document classification (the fastText-style
    // quality/language-filter rung): multinomial Naive Bayes over 64
    // hash buckets, trained in one stats pass on the deterministic
    // 80% train split, held-out 20% classified in-plan. The model is
    // buckets×classes rows (broadcast); per-doc bucket counts keep the
    // corpus aggregate bounded; argmax windows are per-doc.
    GraftQuery("q_nb_classify",
      (s, dir) => graft.ops.NaiveBayes.classify(docs(s, dir), col("doc_id"),
        col("text"), col("lang"),
        isTrain = Corpus.splitAssign(col("doc_id")) === "train"),
      Some(graft.ops.NaiveBayes.classifyOracleSql(
        s"${Corpus.splitAssignSql("doc_id")} = 'train'"))),

    // Trained linear classifier (the GPT-3/LLaMA quality-filter rung,
    // trained by DISTILLATION — the model learns to reproduce the
    // graded quality heuristic from hashed unigrams, then replaces it
    // at serving time, the FineWeb-Edu pattern): binary logistic
    // regression over 64 buckets with a hard sigmoid, 3 full-batch GD
    // passes in exact micro-unit integer arithmetic on the
    // deterministic 80% split, scored corpus-wide. The fitted weights
    // ride in-row as a literal map — the returned scoring plan is one
    // narrow map stage (PlanSpec pins zero joins/exchanges); per GD
    // pass the only shuffle is the 65-key gradient aggregate.
    GraftQuery("q_logreg_classify",
      (s, dir) => graft.ops.Logistic.classify(docs(s, dir), col("doc_id"),
        col("text"),
        label = TextFunctions.qualityScore(col("text")) >= 0.5,
        isTrain = Corpus.splitAssign(col("doc_id")) === "train"),
      Some(graft.ops.Logistic.classifyOracleSql(
        labelPred = qualityLabelPredSql,
        trainPred = s"${Corpus.splitAssignSql("doc_id")} = 'train'"))),

    // Per-source quality calibration: each source's keep cut is its
    // OWN 25th-percentile quality (scores aren't comparable across
    // sources). One groupBy(source) exact-percentile + a broadcast
    // join back — never a per-source row window.
    GraftQuery("q_source_calibrate",
      (s, dir) => Selection.sourceCalibrate(docs(s, dir), col("doc_id"),
        col("text"), col("source")),
      Some(Selection.sourceCalibrateOracleSql())),

    // Ensemble quality gate (the FineWeb/RefinedWeb composition):
    // Gopher rule signals + heuristic quality score + the TRAINED
    // logistic classifier, fused into one keep/drop verdict with
    // per-rule attribution (first-failing-rule precedence). The fitted
    // weights ride in-row as a literal map, so the whole ensemble is a
    // SINGLE narrow map pass over the corpus — zero joins, zero
    // shuffles; the oracle replays the GD fit relationally and joins
    // the three signal chains on doc_id.
    GraftQuery("q_quality_ensemble",
      (s, dir) => {
        val d = docs(s, dir)
        val model = graft.ops.Logistic.fit(
          d.filter(Corpus.splitAssign(col("doc_id")) === "train"),
          col("text"),
          label = TextFunctions.qualityScore(col("text")) >= 0.5)
        d.select(col("doc_id"),
            TextFunctions.gopherSignals(col("text"))
              .getField("passes").as("gopher_pass"),
            TextFunctions.qualityScore(col("text")).as("quality"),
            graft.ops.Logistic.scoreColumn(col("text"), model)
              .as("clf_p_micros"))
          .withColumn("quality_pass", col("quality") >= 0.5)
          .withColumn("clf_pred", col("clf_p_micros") >= 500000L)
          .withColumn("keep",
            col("gopher_pass") && col("quality_pass") && col("clf_pred"))
          .withColumn("fail_reason",
            when(!col("gopher_pass"), "gopher")
              .when(!col("quality_pass"), "quality")
              .when(!col("clf_pred"), "classifier")
              .otherwise("none"))
      },
      Some {
        val lrSql = graft.ops.Logistic.classifyOracleSql(
          labelPred = qualityLabelPredSql,
          trainPred = s"${Corpus.splitAssignSql("doc_id")} = 'train'")
        raw"""WITH ${TextFunctions.gopherSignalsOracleCtes()},
q AS ($qualityScoreOracleSql),
lr AS (SELECT doc_id, p_micros FROM ($lrSql))
SELECT g.doc_id, g.passes AS gopher_pass, q.quality, lr.p_micros AS clf_p_micros,
  q.quality >= 0.5 AS quality_pass, lr.p_micros >= 500000 AS clf_pred,
  (g.passes AND q.quality >= 0.5 AND lr.p_micros >= 500000) AS keep,
  CASE WHEN NOT g.passes THEN 'gopher' WHEN NOT (q.quality >= 0.5) THEN 'quality' WHEN NOT (lr.p_micros >= 500000) THEN 'classifier' ELSE 'none' END AS fail_reason
FROM gsig g JOIN q USING (doc_id) JOIN lr USING (doc_id)"""
      }),

    // Temperature-smoothed mixture rates (mBERT/XLM-R/mT5 multilingual
    // upsampling, α = 1/2): rate_s = sqrt(min_tokens/tokens_s) — IEEE
    // sqrt is correctly rounded, so no transcendental parity risk. One
    // tiny groupBy(lang) + a one-row broadcast min.
    GraftQuery("q_temperature_mix",
      (s, dir) => Selection.temperatureMix(docs(s, dir), col("lang"),
        TextFunctions.tokenCount(col("text"))),
      Some(Selection.temperatureMixOracleSql("lang"))),

    // RAG chunking: overlapping 32-token windows advancing by 24 (8
    // tokens of overlap) — pure per-row generate+explode, zero shuffle,
    // stable (doc_id, chunk_idx) identity for incremental re-embedding.
    GraftQuery("q_chunk_overlap",
      (s, dir) => Corpus.chunkOverlap(docs(s, dir), col("doc_id"),
        col("text"), chunkTokens = 32, stride = 24),
      Some(Corpus.chunkOverlapOracleSql(chunkTokens = 32, stride = 24))),

    // Per-doc top-3 salient terms: (tf desc, df asc, term asc) — a
    // total integer order both engines replay — with the tf·ln(N/df)
    // weight as a floor-4 payload. tf agg has map-side combine; df is
    // aggregated from tf (corpus read once); doc window reuses the tf
    // hash partitioning.
    GraftQuery("q_tfidf_topterms",
      (s, dir) => graft.ops.Retrieval.tfIdfTopTerms(docs(s, dir),
        col("doc_id"), col("text"), k = 3),
      Some(graft.ops.Retrieval.tfIdfOracleSql(k = 3))),

    // The RAG pipeline's PRODUCTION retrieval rung: same chunk →
    // feature-hash-embed stages, but the search is IVF (trained k-means
    // centroids, corpus partitioned once on cluster id, queries probe 2
    // cells) instead of brute force — the swap-in q_rag_pipeline's
    // docstring promises, demonstrated and oracle-replayed (the DuckDB
    // side re-runs the whole Lloyd's fit over the chunk vectors).
    GraftQuery("q_rag_pipeline_ivf",
      (s, dir) => {
        // r16: the chunk-embed chain (explode + per-token md5
        // vectorization) is the measured cost and the fixture parquet
        // is one indivisible row group — parallelize the scan-rooted
        // map work (guide §2.5; no-op on many-row-group inputs, rows
        // unchanged — see Joins.parallelizeScan)
        val chunks = Corpus.chunkOverlap(
            graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id")),
            col("doc_id"), col("text"), chunkTokens = 32, stride = 24)
          .select((col("doc_id") * 65536 + col("chunk_idx")).as("chunk_id"),
            graft.functions.VectorFunctions.hashingVectorizer(
              TextFunctions.tokens(lower(col("chunk_text"))), dim = 16).as("emb"))
        graft.similarity.Ann.ivfTopK(chunks, col("chunk_id"), col("emb"),
          isQuery = pmod(col("chunk_id"), lit(65536L)) === 0 &&
            col("chunk_id") < lit(3L * 65536),
          k = 5, nCentroids = 8, nProbe = 2, kmeansIters = 3)
      },
      Some {
        val toksSql = raw"regexp_split_to_array(trim(lower(chunk_text)), '\s+')"
        val pre =
          raw"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
ch AS (SELECT doc_id * 65536 + c AS chunk_id, array_to_string(toks[c * 24 + 1:c * 24 + 32], ' ') AS chunk_text FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS u(c)),
chsrc AS (SELECT chunk_id AS vec_id, ${graft.functions.VectorFunctions.hashingVectorizerSql(toksSql, 16)} AS v0 FROM ch)"""
        graft.similarity.Ann.ivfTopKOracle(
          "vec_id % 65536 = 0 AND vec_id < 196608",
          k = 5, nCentroids = 8, nProbe = 2, kmeansIters = 3, dim = 16,
          vecSql = "v0", fromSql = "chsrc", preCtes = pre)
      }),

    // The composed RAG indexing pipeline in one plan: overlapping chunk
    // windows → feature-hash chunk embeddings (deterministic, no fitted
    // vocab) → cosine top-5 retrieval for the first chunk of docs 0-2.
    // Chunk ids BIGINT-pack (doc_id, chunk_idx) like span dedup. The
    // exact-retrieval rung runs the bounded-heap re-rank
    // (bruteForceTopKHeap — bit-identical to the window form, which
    // q_ann_topk keeps as the deliberate gate-pair; per-query chunk
    // candidates grow with the corpus, so a WindowExec group here is
    // the r13 spill shape); the approximate swap-in at corpus scale is
    // q_rag_pipeline_ivf over the same (chunk_id, emb) relation.
    GraftQuery("q_rag_pipeline",
      (s, dir) => {
        // r16: same scan-parallelism fix as q_rag_pipeline_ivf (the
        // chunk-embed chain is shared; guide §2.5)
        val chunks = Corpus.chunkOverlap(
            graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id")),
            col("doc_id"), col("text"), chunkTokens = 32, stride = 24)
          .select((col("doc_id") * 65536 + col("chunk_idx")).as("chunk_id"),
            graft.functions.VectorFunctions.hashingVectorizer(
              TextFunctions.tokens(lower(col("chunk_text"))), dim = 16).as("emb"))
        graft.similarity.Ann.bruteForceTopKHeap(chunks, col("chunk_id"),
          col("emb"),
          isQuery = pmod(col("chunk_id"), lit(65536L)) === 0 &&
            col("chunk_id") < lit(3L * 65536), k = 5)
      },
      Some {
        val toksSql = raw"regexp_split_to_array(trim(lower(chunk_text)), '\s+')"
        raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
ch AS (SELECT doc_id * 65536 + c AS chunk_id, array_to_string(toks[c * 24 + 1:c * 24 + 32], ' ') AS chunk_text FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS u(c)),
e AS (SELECT chunk_id, ${graft.functions.VectorFunctions.hashingVectorizerSql(toksSql, 16)} AS v FROM ch),
e2 AS (SELECT chunk_id, v, sqrt(list_sum([v[i]*v[i] FOR i IN range(1, len(v)+1)])) AS nrm FROM e),
q AS (SELECT chunk_id AS query_id, v AS qv, nrm AS qnrm FROM e2 WHERE chunk_id % 65536 = 0 AND chunk_id < 196608),
scored AS (SELECT query_id, chunk_id AS vec_id, CASE WHEN qnrm > 0 AND nrm > 0 THEN list_sum([qv[i]*v[i] FOR i IN range(1, len(qv)+1)]) / (qnrm * nrm) END AS cosine FROM q JOIN e2 ON query_id <> chunk_id)
SELECT query_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rk FROM scored) WHERE rk <= 5"""
      }),

    // Curriculum-ordered sequence packing: corpus-typical (head) docs
    // pack first, tail last — the quality tertiles from pplBuckets
    // define a composite order key bucket·2^40 + doc_id that rides
    // through the SAME two-phase distributed prefix sum as q_seq_pack
    // (the bucketed id stays monotone in curriculum order, so no new
    // ordering machinery and no global window). Third composed
    // pipeline: quality signal → curriculum order → pretraining layout.
    GraftQuery("q_curriculum_pack",
      (s, dir) => {
        val d = docs(s, dir)
        val big = 1L << 40
        val ranked = UnigramLm.pplBuckets(d, col("doc_id"), col("text"))
          .select(col("doc_id"),
            when(col("bucket") === "head", 0L)
              .when(col("bucket") === "middle", 1L).otherwise(2L).as("__b"))
        val keyed = d.join(ranked, Seq("doc_id"))
          .select((col("__b") * big + col("doc_id")).as("cid"),
            TextFunctions.tokenCount(col("text")).as("nt"))
        Corpus.concatChunk(keyed, col("cid"), col("nt"),
            seqLen = 512, bucketSize = 100)
          .select(pmod(col("doc_id"), lit(big)).as("doc_id"),
            when(floor(col("doc_id") / lit(big)) === 0, "head")
              .when(floor(col("doc_id") / lit(big)) === 1, "middle")
              .otherwise("tail").as("bucket"),
            col("n_tok"), col("start_tok"),
            col("first_seq"), col("last_seq"), col("n_seqs"))
      },
      Some {
        val big = 1L << 40
        s"""WITH ${UnigramLm.pplBucketsOracleCtes()},
cidt AS (SELECT pb.doc_id AS orig_id, CAST(CASE bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1 ELSE 2 END AS BIGINT) * $big + pb.doc_id AS cid, CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS n_tok, bucket FROM pb JOIN documents d ON pb.doc_id = d.doc_id),
c AS (SELECT *, CAST(coalesce(sum(n_tok) OVER (ORDER BY cid ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM cidt)
SELECT orig_id AS doc_id, bucket, n_tok, start_tok, CAST(floor(start_tok / 512.0) AS BIGINT) AS first_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) AS last_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) - CAST(floor(start_tok / 512.0) AS BIGINT) + 1 AS n_seqs FROM c"""
      }),

    // Min/max file-stats data skipping: a range-partitioned snapshot
    // commit records per-file stats in the manifest; the range read
    // opens only intersecting files (manifest metadata decides — zero
    // data IO for skipped files) and must return exactly the full-scan
    // filter's rows, which is what the oracle checks.
    // NOTE: side-effecting like q_snapshot_changes (scratch store per
    // invocation, deleted on JVM exit) — never headline/benched.
    GraftQuery("q_snapshot_skip",
      (s, dir) => {
        val tmpPath = scratchDir("graft_snapskip")
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
          .repartitionByRange(8, col("doc_id"))
        graft.sinks.SnapshotStore.commitReplace(s, tmpPath, d,
          statsCols = Seq("doc_id"))
        graft.sinks.SnapshotStore.readRange(s, tmpPath, "doc_id", 200, 350)
          .getOrElse(sys.error("all files pruned"))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("SELECT doc_id, lang, source FROM documents WHERE doc_id >= 200 AND doc_id <= 350")),

    // Domain-mixture planning: per-lang token counts vs target shares →
    // the acceptance rates realizing the mixture at the max achievable
    // budget (binding stratum at rate 1.0). One tiny aggregate + a
    // one-row broadcast; the corpus never shuffles.
    GraftQuery("q_mix_weights",
      (s, dir) => Corpus.mixtureRates(docs(s, dir), col("lang"),
        TextFunctions.tokenCount(col("text")), mixShares),
      Some(Corpus.mixtureRatesOracleSql("lang", mixShares))),

    // Bloom semi-join guarantees as a hard oracle row: build a bloom
    // over every distinct user_id, probe all of them plus 1000 planted
    // never-seen keys. missed == 0 is the filter's contract (no false
    // negatives); the false-positive fraction staying under 5% checks
    // the sizing. Both are deterministic: the bloom bit array is an OR
    // of per-row insertions, so partition merge order cannot change it.
    GraftQuery("q_bloom_semi",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        val users = ev(s, dir).select(col("user_id")).distinct()
        val bfBytes = users.agg(
          expr("graft_bloom_agg(xxhash64(user_id), CAST(100000 AS BIGINT), CAST(1048576 AS BIGINT))"))
          .head.getAs[Array[Byte]](0)
        val hit = call_function("graft_might_contain",
          lit(bfBytes), xxhash64(col("k")))
        val seenMissed = users.select(col("user_id").as("k"))
          .agg(sum(when(!hit, 1L).otherwise(0L)).as("m")).head.getLong(0)
        val ghosts = s.range(1000)
          .select(concat(lit("ghost-"), col("id").cast("string")).as("k"))
        val fp = ghosts.agg(sum(when(hit, 1L).otherwise(0L)).as("fp")).head.getLong(0)
        val nUsers = users.count()
        import s.implicits._
        Seq((nUsers + 1000L, seenMissed == 0L, fp < 50L))
          .toDF("n_probes", "all_seen_hit", "fp_under_5pct")
      },
      Some("""SELECT CAST(count(DISTINCT user_id) + 1000 AS BIGINT) AS n_probes, TRUE AS all_seen_hit, TRUE AS fp_under_5pct FROM events""")),

    // SummingMergeTree-style incremental MV: two source commits, two
    // maintenance drains (each partial-aggregating ONLY its new rows),
    // then the FINAL merge-on-read — which must equal a direct GROUP BY
    // over all the source rows, exactly what the oracle computes.
    // NOTE: side-effecting like q_snapshot_changes (scratch stores per
    // invocation, deleted on JVM exit) — never headline/benched.
    GraftQuery("q_summing_mv",
      (s, dir) => {
        val tmpP = scratchDir("graft_summv")
        val src = s"$tmpP/src"; val mv = s"$tmpP/mv"; val ck = s"$tmpP/ck"
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        def partial(df: DataFrame): DataFrame = df.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_tok").cast(DecimalType(28, 0))).as("s"))
        graft.sinks.SnapshotStore.commitAppend(s, src, d.filter(col("doc_id") < 300))
        graft.sinks.SummingStore.maintain(s, src, ck, mv)(partial)
        graft.sinks.SnapshotStore.commitAppend(s, src, d.filter(col("doc_id") >= 300))
        graft.sinks.SummingStore.maintain(s, src, ck, mv)(partial)
        graft.sinks.SummingStore.read(s, mv, Seq("lang"), Seq("cnt", "s")).get
          .select(col("lang"), col("cnt"), col("s").cast("long").as("tok_sum"))
      },
      Some(raw"""SELECT lang, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok_sum FROM documents GROUP BY lang""")),

    // AggregatingMergeTree analog (the GENERAL -State/-Merge engine;
    // Summing above is the additive special case): an incrementally
    // maintained view over events keyed by event_type whose part rows
    // carry mergeable states — count, exact decimal sum, min/max, and
    // 64 HyperLogLog registers (md5 family) for distinct user_id. Three
    // deltas land as parts, the store is COMPACTED mid-sequence (the
    // OPTIMIZE analog must not change any state), and the finalized
    // read — including the integer-exact raw-HLL estimate — must equal
    // the from-scratch aggregate of the raw table, which is the oracle.
    // Every state merges commutatively+associatively, so part order,
    // batching and compaction schedule cannot change a bit.
    GraftQuery("q_agg_mv",
      (s, dir) => {
        val tmpP = scratchDir("graft_aggmv")
        val mv = s"$tmpP/aggmv"
        val e = ev(s, dir).select(col("event_id"), col("event_type"),
          col("value"), col("user_id"))
        val A = graft.sinks.AggregatingStore
        (0 until 3).foreach { i =>
          val delta = e.filter(pmod(col("event_id"), lit(3)) === i)
          A.appendDelta(A.partialState(delta, Seq(col("event_type")),
            col("value"), col("user_id")), mv)
          if (i == 1) A.compact(s, mv, Seq("event_type"))
        }
        A.finalizeView(A.readStates(s, mv, Seq("event_type")).get,
          Seq("event_type"))
      },
      Some("""WITH keyed AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k FROM events),
hashed AS (SELECT event_type, CAST('0x'||substring(md5(k),1,15) AS BIGINT) % 64 AS bucket, CAST('0x'||substring(md5('r:'||k),1,15) AS BIGINT) % 4294967296 AS h2 FROM keyed),
rhos AS (SELECT event_type, bucket, CASE WHEN h2 = 0 THEN 32 ELSE least(bit_count(CAST(h2 & -h2 AS BIGINT) - 1) + 1, 32) END AS rho FROM hashed),
regs AS (SELECT event_type, bucket, max(rho) AS reg FROM rhos GROUP BY 1, 2),
summary AS (SELECT event_type, CAST(count(*) AS BIGINT) AS filled, CAST(sum(CAST(1 AS BIGINT) << CAST(32 - reg AS INTEGER)) AS BIGINT) AS num_filled FROM regs GROUP BY 1),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value, min(value) AS min_value, max(value) AS max_value FROM events GROUP BY 1)
SELECT a.event_type, cnt, sum_value, min_value, max_value, CAST((2904064 * 4294967296) // (1000 * (num_filled + (64 - filled) * 4294967296)) AS BIGINT) AS est_distinct
FROM agg a JOIN summary s ON a.event_type = s.event_type""")),

    // MV ROUTING, oracle-gated and live: the daily rollup runs against
    // the FACT path with the MvRouting rule installed, and the runner
    // REQUIRES the executed plan to scan the hourly MV (and not the
    // fact) — so a routing regression fails the gate, not just a unit
    // test. date_trunc('day') composes over the MV's hour trunc, and
    // the decimal re-sum keeps the coarser re-aggregation exact; the
    // oracle computes the same rollup from the raw events.
    GraftQuery("q_mv_routed_daily",
      (s, dir) => {
        val tmpP = scratchDir("graft_mvr")
        val factPath = s"$tmpP/fact"
        ev(s, dir).select(col("ts"), col("event_type"),
            (floor(col("value") * 100 + lit(0.5)) / 100).as("engagement_score"))
          .write.mode("overwrite").parquet(factPath)
        val fact = s.read.parquet(factPath)
        val mvPath = s"$tmpP/mv"
        graft.ops.Rollups.hourlyRollupMv(fact, col("ts"),
            Seq(col("event_type")), col("engagement_score"))
          .write.parquet(mvPath)
        val rule = graft.plans.MvRouting(s, factPath, mvPath,
          factTsCol = "ts", dims = Seq("event_type"))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ rule
        // UNINSTALL the session-global rule before returning: the
        // caller executes the returned frame AFTER this function, so
        // the routed plan is pinned via an eager localCheckpoint (the
        // result is a |days|×|event_types| rollup — tiny) and the rule
        // never leaks into subsequent queries or accumulates on reruns.
        try {
          val routed = s.read.parquet(factPath)
            .groupBy(date_trunc("day", col("ts")).as("day_ts"), col("event_type"))
            .agg(count(lit(1)).as("cnt"),
              graft.ops.Rollups.decSum(col("engagement_score")).as("score_sum"))
          val phys = routed.queryExecution.executedPlan.toString()
          require(phys.contains(mvPath) && !phys.contains(factPath),
            "q_mv_routed_daily did not route onto the MV")
          routed.select(date_format(col("day_ts"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("cnt"), col("score_sum"))
            .localCheckpoint()
        } finally {
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations.filterNot(_ == rule)
        }
      },
      Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, count(*) AS cnt, CAST(sum(CAST(floor(value*100 + 0.5)/100 AS DECIMAL(28,2))) AS DOUBLE) AS score_sum FROM events GROUP BY 1, 2""")),

    // Mixture planning APPLIED: the per-lang rates from q_mix_weights
    // broadcast-join back onto the corpus and gate it through the same
    // deterministic hash-mod sampling — plan and apply compose into one
    // declarative plan (a tiny agg + a one-row scalar + a broadcast
    // join; the corpus still never shuffles).
    GraftQuery("q_mix_apply",
      (s, dir) => {
        val d = docs(s, dir)
        val rates = Corpus.mixtureRates(d, col("lang"),
            TextFunctions.tokenCount(col("text")), mixShares)
          .select(col("stratum").as("lang"), col("rate"))
        d.join(broadcast(rates), "lang")
          .filter(Corpus.sampleKeepByRate(col("lang"), col("doc_id"), col("rate")))
          .select(col("doc_id"), col("lang"))
      },
      Some(s"""WITH ${Corpus.mixtureRatesOracleCtes("lang", mixShares)}
SELECT d.doc_id, d.lang FROM documents d JOIN mr ON d.lang = mr.stratum
WHERE CAST('0x'||substring(md5('sample:'||d.lang||':'||CAST(d.doc_id AS VARCHAR)),1,15) AS BIGINT) % 10000 < floor(mr.rate * 10000.0 + 0.5)""")),

    // EPOCH planning (mixture rates' over-subscribed complement): a
    // 60k-token budget against the fixture's ~20k-token corpus forces
    // multi-epoch passes — per stratum, full passes n_epochs plus a
    // fractional pass in hash basis points. Strata land with epochs
    // >= 1 AND genuinely fractional tails (FixtureCoverageSpec pins
    // both classes).
    GraftQuery("q_epoch_plan",
      (s, dir) => Corpus.epochPlan(docs(s, dir), col("lang"),
        TextFunctions.tokenCount(col("text")), mixShares,
        budgetTokens = 60000L),
      Some(Corpus.epochPlanOracleSql("lang", mixShares, 60000L))),

    // The plan APPLIED: one row per training INSTANCE — each doc
    // repeats n_epochs times plus once more when its hash bucket falls
    // under the stratum's fractional rate. Plan broadcasts; the
    // explode is per-row; nothing corpus-sized shuffles.
    GraftQuery("q_epoch_apply",
      (s, dir) => {
        val d = docs(s, dir)
        Corpus.epochApply(d, col("doc_id"), col("lang"),
          Corpus.epochPlan(d, col("lang"),
            TextFunctions.tokenCount(col("text")), mixShares,
            budgetTokens = 60000L))
      },
      Some(Corpus.epochApplyOracleSql("lang", mixShares, 60000L))),

    // CURRICULUM sharding: global quality deciles (type-1 integer cut
    // values from the two-phase cumulative, broadcast as one array) ×
    // hash shards — the ordering plan a curriculum schedule
    // materializes shard-by-shard without a training-time global sort.
    GraftQuery("q_curriculum_shards",
      (s, dir) => Selection.curriculumShards(docs(s, dir),
        col("doc_id"), col("text"), nShards = 4),
      Some(Selection.curriculumShardsOracleSql(nShards = 4))),

    // Gopher-style intra-document repetition signal: 1 - distinct/total
    // word trigrams, floor-form at 4 decimals.
    GraftQuery("q_repetition",
      (s, dir) => docs(s, dir).select(col("doc_id"),
        Corpus.repetitionRatio(col("text")).as("rep_ratio")),
      Some(raw"""WITH g AS (SELECT doc_id, ${Corpus.gramsSql(3)} AS grams FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)) SELECT doc_id, ${Corpus.repetitionRatioSql(3)} AS rep_ratio FROM g""")),

    // Exact interpolated percentiles per group (sort-based agg).
    GraftQuery("q_percentiles",
      (s, dir) => ev(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax")),
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90, min(value) AS vmin, max(value) AS vmax FROM events GROUP BY 1""")),

    // The WHOLE pretraining data pipeline as ONE declarative plan —
    // exact dedup → near-dup drop → quality gate → stratified sample →
    // percentile length trim → split assignment → sequence packing —
    // with one machine-composed oracle built from the per-stage SQL
    // fragments. Every stage keeps its individual scale posture
    // (map-only signatures, broadcast one-row stats, two-phase prefix
    // sum); composing them adds no new shuffle of the corpus.
    // The 2024-generation pipeline composed from the late round-4 ops,
    // one declarative plan + one machine-composed oracle: span-level
    // exact dedup (reassembled docs, emptied docs dropped) → Gopher
    // rule gate on the CLEANED text → unigram-LM perplexity tertiles
    // trained on the survivors → tail third dropped. Stage oracles
    // compose via prefixed CTEs (sd/gp/lm), so one DuckDB query replays
    // all three stages end to end.
    GraftQuery("q_training_pipeline2",
      (s, dir) => {
        val cleaned = Corpus.spanDedup(docs(s, dir), col("doc_id"), col("text"),
            spanTokens = 8)
          .filter(col("kept_spans") > 0)
          .select(col("doc_id"), col("clean_text").as("text"))
        val gated = cleaned
          .filter(TextFunctions.gopherSignals(col("text")).getField("passes"))
        UnigramLm.pplBuckets(gated, col("doc_id"), col("text"))
          .filter(col("bucket") =!= "tail")
      },
      Some(s"""WITH ${Corpus.spanDedupOracleCtes(8, "documents", "sd")},
cleaned AS (SELECT doc_id, clean_text AS text FROM sdka WHERE kept_spans > 0),
${TextFunctions.gopherSignalsOracleCtes("cleaned", "gp")},
gated AS (SELECT c.doc_id, c.text FROM cleaned c JOIN gpgsig g USING (doc_id) WHERE g.passes),
${UnigramLm.pplBucketsOracleCtes("gated", "lm")}
SELECT doc_id, lp4, bucket FROM lmpb WHERE bucket <> 'tail'""")),

    GraftQuery("q_training_pipeline",
      (s, dir) => {
        val d = docs(s, dir)
        val exactKeep = Dedup.exactDedup(d, col("text"), col("doc_id"))
        val nearDrops = graft.dedup.MinHash
          .verifiedPairs(d, col("doc_id"), col("text"))
          .select(col("doc_b").as("doc_id")).distinct()
        val gated = exactKeep.join(nearDrops, Seq("doc_id"), "left_anti")
          .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        val sampled = gated
          .filter(Corpus.sampleKeep(col("lang"), col("doc_id"), stratRates, 0.10))
          .select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        val bounds = sampled.agg(
          expr("percentile(n_tok, 0.05)").as("lo"),
          expr("percentile(n_tok, 0.95)").as("hi"))
        val kept = sampled.crossJoin(broadcast(bounds))
          .filter(col("n_tok").cast("double") >= col("lo") &&
            col("n_tok").cast("double") <= col("hi"))
          .select(col("doc_id"), col("lang"), col("n_tok"))
        Corpus.concatChunk(kept, col("doc_id"), col("n_tok"),
            seqLen = 512, bucketSize = 100)
          .join(kept.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"),
            Corpus.splitAssign(col("doc_id")).as("split"),
            col("n_tok"), col("start_tok"), col("first_seq"), col("n_seqs"))
      },
      Some {
        raw"""${graft.dedup.MinHash.oracleCtes()},
near_drops AS (SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= ${graft.dedup.MinHash.Config().threshold}),
exact_keep AS (SELECT doc_id, text, lang FROM (SELECT doc_id, text, lang, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn FROM documents) WHERE rn = 1),
gated AS (SELECT doc_id, lang, text FROM exact_keep WHERE doc_id NOT IN (SELECT doc_id FROM near_drops) AND $qualitySqlExpr >= 0.5),
sampled AS (SELECT doc_id, lang, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM gated WHERE ${Corpus.sampleKeepSql("lang", "doc_id", stratRates, 0.10)}),
b AS (SELECT quantile_cont(n_tok, 0.05) AS lo, quantile_cont(n_tok, 0.95) AS hi FROM sampled),
kept AS (SELECT doc_id, lang, n_tok FROM sampled, b WHERE CAST(n_tok AS DOUBLE) >= lo AND CAST(n_tok AS DOUBLE) <= hi),
c AS (SELECT doc_id, lang, n_tok, CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM kept)
SELECT doc_id, lang, ${Corpus.splitAssignSql("doc_id")} AS split, n_tok, start_tok, CAST(floor(start_tok / 512.0) AS BIGINT) AS first_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) - CAST(floor(start_tok / 512.0) AS BIGINT) + 1 AS n_seqs FROM c"""
      }),

    // Misra–Gries heavy hitters (custom partial+final
    // TypedImperativeAggregate, k counters per partition regardless of
    // item cardinality). Raw counter values depend on merge order, but
    // the MG GUARANTEE does not: every item with true frequency >
    // N/(k+1) is captured, and estimates undercount by at most N/(k+1)
    // — so the oracle-checked surface is the exact heavy-hitter set
    // plus those two deterministic booleans.
    GraftQuery("q_heavy_hitters",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        val e = ev(s, dir)
        val tot = e.agg(count(lit(1)).as("n"))
        val exact = e.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        val sk = e.agg(expr("misra_gries(event_type, 8)").as("hh"))
          .select(explode(col("hh")).as("it"))
          .select(col("it.item").as("event_type"), col("it.est").as("est"))
        exact.crossJoin(broadcast(tot))
          .filter(col("cnt") > col("n") / lit(9.0))
          .join(sk, Seq("event_type"), "left")
          .select(col("event_type"), col("cnt"),
            col("est").isNotNull.as("captured"),
            (col("est").isNotNull && col("est") <= col("cnt") &&
              col("est") >= col("cnt") - col("n") / lit(9.0)).as("est_bounded"))
      },
      Some("""WITH tot AS (SELECT count(*) AS n FROM events), ex AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1) SELECT event_type, cnt, TRUE AS captured, TRUE AS est_bounded FROM ex, tot WHERE cnt > n / 9.0""")),

    // Approximate percentile sketch (same boolean-accuracy treatment as
    // the HLL sketch): the sketch value is algorithm-specific, so the
    // checked surface is the exact quantile plus a boolean testing the
    // sketch's ACTUAL contract — approx_percentile(…, acc) returns an
    // element whose RANK is within p ± 1/acc of the target. The gate
    // counts elements below/at the returned value and checks that rank
    // window directly (±1 for boundary ties) — a rank bound, not a
    // relative-value bound, so it holds on skewed distributions,
    // medians near 0, and small groups where interpolated percentiles
    // sit between data elements.
    GraftQuery("q_quantile_sketch",
      (s, dir) => {
        val eps = 1.0 / 1000.0 // the sketch's 1/accuracy rank guarantee
        val e = ev(s, dir)
        val sk = e.groupBy(col("event_type"))
          .agg(expr("approx_percentile(value, 0.5, 1000)").as("approx_p50"),
            expr("percentile(value, 0.5)").as("exact_p50"),
            count(lit(1)).as("n"))
        e.join(broadcast(sk), "event_type") // 5 groups — dimension-bounded
          .groupBy(col("event_type"))
          .agg(first(col("exact_p50")).as("exact_p50"),
            first(col("n")).as("n"),
            sum(when(col("value") < col("approx_p50"), 1L).otherwise(0L)).as("n_lt"),
            sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L)).as("n_le"))
          .select(col("event_type"), col("exact_p50"),
            (col("n_lt") <= (lit(0.5) + lit(eps)) * col("n") + lit(1.0) &&
              col("n_le") >= (lit(0.5) - lit(eps)) * col("n") - lit(1.0))
              .as("within_rank_err"))
      },
      Some("""SELECT event_type, quantile_cont(value, 0.5) AS exact_p50, TRUE AS within_rank_err FROM events GROUP BY 1""")),

    // Percentile-gated length filter (training-corpus outlier trim):
    // exact token-length p05/p95 reduce to ONE row, broadcast back, and
    // gate the corpus — no corpus shuffle, the same one-pass-stats shape
    // as BM25.
    GraftQuery("q_length_filter",
      (s, dir) => {
        val base = docs(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        val bounds = base.agg(
          expr("percentile(n_tok, 0.05)").as("lo"),
          expr("percentile(n_tok, 0.95)").as("hi"))
        base.crossJoin(broadcast(bounds))
          .filter(col("n_tok").cast("double") >= col("lo") &&
            col("n_tok").cast("double") <= col("hi"))
          .select(col("doc_id"), col("n_tok"))
      },
      Some(raw"""WITH base AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents), b AS (SELECT quantile_cont(n_tok, 0.05) AS lo, quantile_cont(n_tok, 0.95) AS hi FROM base) SELECT doc_id, n_tok FROM base, b WHERE CAST(n_tok AS DOUBLE) >= lo AND CAST(n_tok AS DOUBLE) <= hi""")),

    // Approximate distinct (HLL++ sketch). The sketch value itself is
    // algorithm-specific, so the oracle-checked surface is the exact
    // count plus a deterministic accuracy BOOLEAN (|approx - exact| <=
    // 10% of exact): the oracle emits TRUE, so any sketch drift past the
    // bound hash-mismatches. Absolute accuracy is additionally asserted
    // in AnnMultimodalSpec.
    GraftQuery("q_sketch_distinct",
      (s, dir) => ev(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.1)).as("within_10pct")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS within_10pct FROM events GROUP BY 1""")),

    // Count-Min sketch (the counter tier's mergeable frequency
    // summary). Unlike Misra–Gries above, CMS is built from COMMUTATIVE
    // integer sums + a min, so the estimates themselves — not just
    // contract booleans — are partition-order-independent and the
    // oracle replays them exactly. est_cnt >= exact_cnt by
    // construction (collisions only add).
    GraftQuery("q_cms_estimates",
      (s, dir) => graft.ops.Sketches.countMinEstimates(ev(s, dir), col("user_id")),
      Some(graft.ops.Sketches.countMinOracleSql("user_id", "events"))),

    // Deterministic HyperLogLog (the uniqCombined analog, exactly
    // replayable): md5-derived bucket/rho, bit-trick trailing zeros,
    // and the raw-HLL estimate as ONE BIGINT division — registers,
    // numerator and estimate all hash-checked, complementing
    // q_sketch_distinct's boolean gate on Spark's HLL++.
    GraftQuery("q_hll_replay",
      (s, dir) => graft.ops.Sketches.hllDistinct(ev(s, dir), col("user_id")),
      Some(graft.ops.Sketches.hllOracleSql("user_id", "events"))),

    // Time-decayed per-content engagement (exponentialMovingAverage /
    // Redis decay-counter serving): contribution = centi-score shifted
    // by whole halflives of age vs the stream frontier — exact-integer
    // dyadic decay, one hash aggregate, no window.
    GraftQuery("q_decayed_score",
      (s, dir) => graft.ops.Rollups.decayedScore(ev(s, dir),
        key = concat(lit("content-"), pmod(col("event_id"), lit(40))),
        ts = col("ts"),
        scoreCenti = floor(score * lit(100.0) + lit(0.5)).cast("long")),
      Some(graft.ops.Rollups.decayedScoreOracleSql(
        keySql = "'content-' || CAST(event_id % 40 AS VARCHAR)",
        scoreCentiSql = s"floor(($scoreSql)*100 + 0.5)"))),

    // Per-node triangle counts on a deterministic 30-node graph derived
    // from event ids — degree-ordered orientation (each triangle
    // counted at its unique out-degree-2 pivot; out-degree bounded
    // O(sqrt(m)) by structure), corpusSide pins on every join.
    GraftQuery("q_triangles",
      (s, dir) => graft.ops.Graph.triangleCounts(
        ev(s, dir).select(pmod(col("event_id"), lit(30)).as("a"),
          pmod(expr("event_id div 30"), lit(30)).as("b")),
        col("a"), col("b")),
      Some(s"""WITH rawe AS (SELECT event_id % 30 AS a, (event_id // 30) % 30 AS b FROM events),
${graft.ops.Graph.triangleCountsOracleSql()}""")),

    // Hybrid sparse+dense retrieval with Reciprocal Rank Fusion (the
    // production RAG ranking composition): BM25 arm + hashing-vectorizer
    // cosine arm, fused on integer floor(1e6/(60+rank)) contributions —
    // rank-only fusion, no score calibration, engine-exact.
    GraftQuery("q_rrf_fusion",
      (s, dir) => Retrieval.rrfFusion(docs(s, dir), col("doc_id"),
        col("text"), bm25Terms),
      Some(Retrieval.rrfFusionOracleSql(bm25Terms))),

    // IVF approximate top-k with REAL k-means centroids (deterministic
    // Lloyd's — KMeans.fit): assign → co-partition → re-rank. The
    // oracle replays the ENTIRE fit (init, 5 iterations, quantized
    // means) plus probing in DuckDB, so the approximate path is
    // hash-checked end to end, not just rows-counted.
    GraftQuery("q_ann_ivf_topk",
      (s, dir) => graft.similarity.Ann.ivfTopK(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = col("vec_id") < 20, k = 5),
      Some(graft.similarity.Ann.ivfTopKOracle("vec_id < 20", k = 5,
        nCentroids = 16, nProbe = 2, kmeansIters = 5, dim = 64))),

    // The IVF REFRESH loop (batch-trained / stream-served /
    // version-stamped — the Bm25Index/unigram-vocab precedent applied
    // to the ANN serving index): v1 centroids train on a budgeted
    // (200-vector) hash-order sample of the first chunk and the cell
    // store assigns that chunk; the second chunk arrives under the
    // SAME model and maintenance assigns ONLY the new vectors
    // (incremental — IvfIndexSpec pins the counts); the v2 publish
    // retrains on the full corpus sample and triggers the one full
    // re-assign a centroid change requires. The served top-k is gated
    // against an oracle replaying sample → fit → assign → probe, so
    // the refresh loop's final state must be bit-identical to a
    // batch build. Side-effecting scratch stores; never headline.
    GraftQuery("q_ivf_refresh",
      (s, dir) => {
        val tmpP = scratchDir("graft_ivfref")
        val cents = s"$tmpP/cents"
        val cells = s"$tmpP/cells"
        val e = Tables.embeddings(s, dir)
        val first = e.filter(pmod(col("vec_id"), lit(2)) === 0)
        graft.similarity.IvfIndex.publish(s, cents, first,
          col("vec_id"), col("embedding"), version = 1L)
        graft.similarity.IvfIndex.maintainCells(s, cells, cents, first,
          col("vec_id"), col("embedding"))
        graft.similarity.IvfIndex.maintainCells(s, cells, cents, e,
          col("vec_id"), col("embedding")) // incremental: new chunk only
        graft.similarity.IvfIndex.publish(s, cents, e,
          col("vec_id"), col("embedding"), version = 2L)
        graft.similarity.IvfIndex.maintainCells(s, cells, cents, e,
          col("vec_id"), col("embedding")) // version bump: full re-assign
        graft.similarity.IvfIndex.topK(s, cells, cents, e,
          col("vec_id"), col("embedding"), isQuery = col("vec_id") < 20,
          k = 5)
      },
      Some(graft.similarity.IvfIndex.refreshOracleSql("vec_id < 20", k = 5))),

    // Product quantization (the IVF-PQ compression rung): 4 subspaces
    // of 16 dims, each with its own deterministic 8-entry k-means
    // codebook; every vector becomes 4 small codes. The oracle replays
    // all 4 fits bit-for-bit (same machinery as the IVF oracle).
    GraftQuery("q_pq_codes",
      (s, dir) => graft.similarity.Pq.codes(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        m = 4, k = 8, iters = 2, dim = 64),
      Some(graft.similarity.Pq.codesOracle(m = 4, k = 8, iters = 2, dim = 64))),

    // IVF-PQ search (the billion-scale ANN flagship): IVF cells prune
    // candidates, similarity is exact-query-vs-PQ-reconstruction (ADC).
    // The oracle replays the ENTIRE index build — IVF fit + 4 subspace
    // codebook fits + reconstruction — and the search, hash-matching.
    GraftQuery("q_ivf_pq_topk",
      (s, dir) => graft.similarity.Pq.ivfPqTopK(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = col("vec_id") < 20, k = 5),
      Some(graft.similarity.Pq.ivfPqOracle("vec_id < 20", k = 5))),

    // ---- embeddings: vector math ------------------------------------------

    // ---- near-duplicate ladder over documents -----------------------------

    GraftQuery("q_dedup_minhash",
      (s, dir) => graft.dedup.MinHash.verifiedPairs(docs(s, dir), col("doc_id"), col("text")),
      Some(graft.dedup.MinHash.oracleSql()),
      headline = true),

    // The INCREMENTAL build of the same near-dup pass: the corpus
    // arrives in three batches against a persisted band/shingle index
    // (MinHashIndex), each batch probing only the buckets it touches;
    // the union of the per-batch outputs must equal — and shares the
    // oracle of — the one-shot q_dedup_minhash. Side-effecting scratch
    // store (deleted on JVM exit), never headline.
    GraftQuery("q_dedup_minhash_inc",
      (s, dir) => {
        val tmpPath = scratchDir("graft_mhidx")
        val d = docs(s, dir)
        (0 to 2).map { b =>
          graft.dedup.MinHashIndex.processBatch(s, tmpPath,
            d.filter(pmod(col("doc_id"), lit(3)) === b),
            col("doc_id"), col("text"), tag = s"b$b")
        }.reduce(_ unionByName _)
      },
      Some(graft.dedup.MinHash.oracleSql())),

    // ---- conversation / SFT data operators --------------------------------
    // Fixture: deterministic multi-turn conversations derived from
    // `documents`, hand-built as a JSON-array payload per conversation
    // (the reference's raw_payload JSONB wire shape, sql/init.sql:24)
    // and PARSED back by the engine's flatten. The oracles rebuild the
    // PRE-payload turn relation directly — an independent spec, never
    // a JSON re-parse — so the engine's encode→decode round-trip is
    // itself under the hash gate.

    // Turn explode with role columns; ordering = array position.
    GraftQuery("q_conv_flatten",
      (s, dir) => convTurns(s, dir),
      Some(graft.ops.Conversations.flattenOracleSql())),

    // Conversation-level EXACT dedup over the role-normalized
    // transcript: the planted case/whitespace mirror (conv_of%8==5 →
    // conv+20000) must collapse; byte-compare would miss it.
    GraftQuery("q_conv_dedup",
      (s, dir) => graft.ops.Conversations.dedupExact(convTurns(s, dir)),
      Some(graft.ops.Conversations.dedupExactOracleSql())),

    // Conversation-level NEAR dedup: the MinHash banded path verbatim
    // over the normalized transcript (no new join shape) — the planted
    // suffix mirror (conv_of%8==2 → conv+10000) pairs below J=1.
    GraftQuery("q_conv_dedup_near",
      (s, dir) => graft.ops.Conversations.nearDupPairs(convTurns(s, dir)),
      Some(graft.ops.Conversations.nearDupOracleSql())),

    // Per-turn gating → conversation verdicts: STRUCTURAL fails
    // (length/quality) earn keep / drop_turns (failing minority
    // stripped) / drop_conv (failing system turn, or half-or-more
    // failing turns); redactable PII is counted (n_pii), never
    // dropped — q_conv_clean redacts it in place.
    GraftQuery("q_conv_gate",
      (s, dir) => graft.ops.Conversations.gate(convTurns(s, dir)),
      Some(graft.ops.Conversations.gateOracleSql())),

    // The gate APPLIED: drop_conv conversations vanish, drop_turns
    // conversations lose exactly their failing turns, retained content
    // is PII-redacted and turn indices re-pack densely.
    GraftQuery("q_conv_clean",
      (s, dir) => graft.ops.Conversations.clean(convTurns(s, dir)),
      Some(graft.ops.Conversations.cleanOracleSql())),

    // System-prompt template fingerprint groups: five planted
    // templates, each present in BOTH case variants — normalization
    // must collapse them to five groups.
    GraftQuery("q_conv_template",
      (s, dir) => graft.ops.Conversations.templates(convTurns(s, dir)),
      Some(graft.ops.Conversations.templatesOracleSql())),

    // SFT training assembly, step 1: the CLEANED conversations through
    // the deterministic chat template — `<|role|> content <|end|>`
    // per turn, whitespace-token ledger, is_loss = assistant turns
    // (the spans a fine-tune trains on). Oracle replays clean + the
    // template concat on the pre-payload turn relation.
    GraftQuery("q_conv_render",
      (s, dir) => graft.ops.Conversations.render(
        graft.ops.Conversations.clean(convTurns(s, dir))),
      Some(graft.ops.Conversations.renderOracleSql())),

    // Step 2: loss-mask packing — rendered turns concat-and-chunked
    // into 128-token sequences, one span row per (turn × sequence):
    // (seq_id, conv_id, turn_idx, is_loss, off_start, len). The
    // oracle replays the placement arithmetic off one global prefix
    // sum; the engine runs the two-phase bucketed form.
    GraftQuery("q_conv_pack",
      (s, dir) => graft.ops.Conversations.packWithLossMask(
        graft.ops.Conversations.render(
          graft.ops.Conversations.clean(convTurns(s, dir))), seqLen = 128),
      Some(graft.ops.Conversations.packOracleSql(128))),

    // Per-sequence fill/mask readout of the same ledger: span count,
    // token fill, loss-token count — the ratio a seqLen sweep tunes.
    GraftQuery("q_conv_pack_stats",
      (s, dir) => graft.ops.Conversations.packedSeqStats(
        graft.ops.Conversations.packWithLossMask(
          graft.ops.Conversations.render(
            graft.ops.Conversations.clean(convTurns(s, dir))), seqLen = 128)),
      Some(graft.ops.Conversations.packStatsOracleSql(128))),

    // Attention-boundary ledger of the same pack: one contiguous
    // (seq_id, conv_id) segment per conversation a sequence touches —
    // what a loader needs to build the block-diagonal attention mask
    // (GPT-style packing without it trains positions against
    // unrelated packed context). The span ledger re-grouped; oracle
    // re-groups the identical span CTEs.
    GraftQuery("q_pack_attn",
      (s, dir) => graft.ops.Conversations.packAttentionBoundaries(
        graft.ops.Conversations.packWithLossMask(
          graft.ops.Conversations.render(
            graft.ops.Conversations.clean(convTurns(s, dir))), seqLen = 128)),
      Some(graft.ops.Conversations.packAttnOracleSql(128))),

    // ---- preference-pair (RLHF/DPO) curation ------------------------------
    // Fixture: deterministic (pair_id, prompt, chosen, rejected) rows
    // derived from documents, planting every verdict class, a PII
    // side, prompt duplicates, and a negative-margin pair; the
    // oracles rebuild the pair relation independently.

    // Pair gate: normalized-equal chosen/rejected → drop_degenerate
    // (zero-margin pairs teach a DPO loss nothing; the upper-cased
    // double-spaced plant proves byte-compare would miss it); either
    // side under the SHARED length/quality floors → drop_invalid;
    // PII counted per side, never a drop.
    GraftQuery("q_pref_gate",
      (s, dir) => graft.ops.Preferences.gate(
        graft.ops.Preferences.fixture(docs(s, dir), col("doc_id"),
          col("text"))),
      Some(graft.ops.Preferences.gateOracleSql())),

    // Prompt-level exact dedup (every 8th pair reuses its
    // predecessor's prompt): repeated prompts concentrate gradient
    // weight and leak across splits.
    GraftQuery("q_pref_dedup",
      (s, dir) => graft.ops.Preferences.promptDedup(
        graft.ops.Preferences.fixture(docs(s, dir), col("doc_id"),
          col("text"))),
      Some(graft.ops.Preferences.promptDedupOracleSql())),

    // Response-level NEAR dedup over gate-kept pairs: near-identical
    // chosen responses across different prompts (the synthetic-data
    // failure promptDedup can't see — the +100000 suffix-mirror class
    // plants it) through the banded MinHash path verbatim; the later
    // pair_id is the eviction side.
    GraftQuery("q_pref_dedup_near",
      (s, dir) => {
        val pairs = graft.ops.Preferences.fixture(docs(s, dir),
          col("doc_id"), col("text"))
        val kept = graft.ops.Preferences.gate(pairs)
          .filter(col("verdict") === "keep").select(col("pair_id"))
        graft.ops.Preferences.nearDupPairs(
          pairs.join(kept, Seq("pair_id"), "left_semi"))
      },
      Some(graft.ops.Preferences.nearDupOracleSql())),

    // Quality-margin ledger for kept pairs: exact-bp per-side quality,
    // the chosen−rejected margin (negative ⇒ suspected label noise —
    // the %8==0 short-chosen plant), and the length ratio.
    GraftQuery("q_pref_margin",
      (s, dir) => graft.ops.Preferences.margins(
        graft.ops.Preferences.fixture(docs(s, dir), col("doc_id"),
          col("text"))),
      Some(graft.ops.Preferences.marginsOracleSql())),

    // The SFT bridge: kept ∧ deduplicated pairs as two-turn
    // conversations (PII redacted) through the EXISTING chat-template
    // render + loss-mask packing — preference data and SFT
    // conversations share one placement/mask spec end to end.
    GraftQuery("q_pref_to_sft_pack",
      (s, dir) => graft.ops.Conversations.packWithLossMask(
        graft.ops.Conversations.render(
          graft.ops.Preferences.toSftTurns(
            graft.ops.Preferences.fixture(docs(s, dir), col("doc_id"),
              col("text")))), seqLen = 128),
      Some(graft.ops.Preferences.toSftPackOracleSql(128))),

    // The STREAMING preference flagship (completing the modality
    // triad): pairs arrive in three pair_id-monotone micro-batches
    // through PrefIngest.pipelineBatch (gate → prompt dedup vs the
    // landed registry → margin ledger → crash-atomic exactly-once
    // landing + monitor MV); the output is the landed margin ledger.
    // One DuckDB batch oracle (gate + prompt-canonical + margin
    // predicates) — the streaming decomposition must be invisible.
    // Side-effecting scratch stores: never headline.
    GraftQuery("q_pref_pipeline_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_pps")
        val (base, marg, mv) =
          (s"$tmpPath/prompts", s"$tmpPath/margins", s"$tmpPath/mv")
        val pairs = graft.ops.Preferences.fixture(docs(s, dir),
          col("doc_id"), col("text"))
        Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.PrefIngest.pipelineBatch(s, base, marg, mv,
              pairs.filter(col("pair_id") >= lo && col("pair_id") < hi),
              i.toLong)
          }
        graft.streaming.PrefIngest.servedMargins(s, marg)
      },
      Some(graft.ops.Preferences.pipelineStreamOracleSql())),

    // The MV-served MONITORING tier of the preference ingest:
    // per-batch additive counters (pairs in / gate-kept / prompt-new
    // landed / negative margins among landed / PII-flagged kept) from
    // the SummingStore the pipeline maintains, gated against the
    // batch replay assigning pairs to their arrival batch.
    GraftQuery("q_pref_monitor_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_pms")
        val (base, marg, mv) =
          (s"$tmpPath/prompts", s"$tmpPath/margins", s"$tmpPath/mv")
        val pairs = graft.ops.Preferences.fixture(docs(s, dir),
          col("doc_id"), col("text"))
        Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.PrefIngest.pipelineBatch(s, base, marg, mv,
              pairs.filter(col("pair_id") >= lo && col("pair_id") < hi),
              i.toLong)
          }
        graft.sinks.SummingStore.read(s, mv, Seq("batch_id"),
          Seq("n_in", "n_keep", "n_fresh", "n_margin_neg", "n_pii_kept")).get
      },
      Some(graft.ops.Preferences.monitorStreamOracleSql(170L, 340L))),

    // Conversation-scope decontamination: eval prompts leak as TURNS
    // (the document-scope q_decontaminate can't see them) — documents
    // with doc_id % 20 ∈ {1, 6} lend their 10-token prefixes as the
    // benchmark (%20==1 texts land in USER turns → drop_turns class;
    // %20==6 in ASSISTANT turns → drop_conv class — except
    // conv_of ≡ 6 (mod 40), where the %20==6 doc rides a TOOL turn
    // and the tool-only leak must STRIP, not drop), turn 5-grams join
    // the broadcast eval set, and verdicts are role-aware: a
    // contaminated assistant turn drops the whole conversation (the
    // model would learn to emit benchmark answers), contaminated
    // context turns only strip.
    GraftQuery("q_conv_decont",
      (s, dir) => {
        val d = docs(s, dir)
        val eval = d.filter(pmod(col("doc_id"), lit(20)) === 1 ||
            pmod(col("doc_id"), lit(20)) === 6)
          .select(concat_ws(" ",
            slice(TextFunctions.tokens(col("text")), 1, 10)).as("eval_text"))
        graft.ops.Conversations.decontaminate(convTurns(s, dir), eval,
          col("eval_text"), n = 5)
      },
      Some(graft.ops.Conversations.decontaminateOracleSql(
        "doc_id % 20 = 1 OR doc_id % 20 = 6", 10, n = 5))),

    // The STREAMING conversation flagship (the q_training_pipeline_
    // stream twin for the SFT modality): conversations arrive in three
    // conv_id-monotone micro-batches through ConvIngest.pipelineBatch
    // (flatten → gate/clean with PII redaction → conversation-level
    // exact dedup vs the store → near-dup eviction vs the persisted
    // MinHash band index → exactly-once landing + monitor MV), then
    // the serve-time readout feeds chat-template render + loss-mask
    // packing. One DuckDB BATCH oracle replays the whole flow — the
    // streaming decomposition must be invisible. Side-effecting
    // scratch stores: never headline.
    GraftQuery("q_conv_pipeline_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_cps")
        val (base, turnsB, idx, pairs, mv) = (s"$tmpPath/convs",
          s"$tmpPath/turns", s"$tmpPath/idx", s"$tmpPath/pairs",
          s"$tmpPath/mv")
        val conv = graft.ops.Conversations.fixture(docs(s, dir),
          col("doc_id"), col("text"))
        Seq(0L -> 40L, 40L -> 90L, 90L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.ConvIngest.pipelineBatch(s, base, turnsB, idx,
              pairs, mv,
              conv.filter(col("conv_id") >= lo && col("conv_id") < hi),
              i.toLong)
          }
        graft.ops.Conversations.packWithLossMask(
          graft.ops.Conversations.render(
            graft.streaming.ConvIngest.servedTurns(s, turnsB, pairs)),
          seqLen = 128)
      },
      Some(graft.ops.Conversations.pipelineStreamOracleSql(128))),

    // The MV-served MONITORING tier of the conversation ingest:
    // per-batch additive counters (conversations in / surviving clean
    // / exact-new / near-dup evicted / landed turns) from the
    // SummingStore the pipeline maintains — gated against the batch
    // replay assigning each conversation/eviction to its arrival
    // batch (valid under the conv_id-monotone stream contract).
    GraftQuery("q_conv_monitor_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_cms")
        val (base, turnsB, idx, pairs, mv) = (s"$tmpPath/convs",
          s"$tmpPath/turns", s"$tmpPath/idx", s"$tmpPath/pairs",
          s"$tmpPath/mv")
        val conv = graft.ops.Conversations.fixture(docs(s, dir),
          col("doc_id"), col("text"))
        Seq(0L -> 40L, 40L -> 90L, 90L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.ConvIngest.pipelineBatch(s, base, turnsB, idx,
              pairs, mv,
              conv.filter(col("conv_id") >= lo && col("conv_id") < hi),
              i.toLong)
          }
        graft.sinks.SummingStore.read(s, mv, Seq("batch_id"),
          Seq("n_in", "n_cleaned", "n_fresh", "n_evicted", "turns_fresh")).get
      },
      Some(graft.ops.Conversations.monitorStreamOracleSql(40L, 90L))),

    // BM25 ranked retrieval (Lucene idf form): one partial+final stats
    // aggregate broadcast back over the corpus, per-row tf array ops,
    // TakeOrderedAndProject top-k. Score floor-rounded at 4 decimals for
    // cross-engine ln stability; ties total-ordered by doc_id.
    GraftQuery("q_bm25_topk",
      (s, dir) => Retrieval.bm25TopK(docs(s, dir), col("doc_id"),
        col("text"), bm25Terms, k = 20),
      Some(Retrieval.bm25OracleSql(bm25Terms, k = 20))),

    // BM25 via the MATERIALIZED inverted index (graft.ops.Bm25Index):
    // corpus lands in a SnapshotStore in two commits, the index catches
    // up incrementally after each (processNew-driven, exactly-once),
    // then the query touches only term-pruned postings + doclens. The
    // oracle is q_bm25_topk's own brute-force SQL — the gate thereby
    // enforces bit-identical scores between the two paths.
    // Side-effecting (scratch stores per invocation, deleted on JVM
    // exit) but HEADLINE since round 11: the bench deliberately times
    // the full commit→incremental-maintain→pruned-query cycle so an
    // index-maintenance regression moves a tracked number; scratch
    // churn at bench scale is trivial.
    GraftQuery("q_bm25_indexed",
      (s, dir) => {
        val tmpPath = scratchDir("graft_bm25idx")
        val corpus = s"$tmpPath/corpus"
        val idx = s"$tmpPath/index"
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        graft.sinks.SnapshotStore.commitAppend(s, corpus, d.filter(col("doc_id") < 250))
        graft.ops.Bm25Index.maintain(s, corpus, idx)
        graft.sinks.SnapshotStore.commitAppend(s, corpus, d.filter(col("doc_id") >= 250))
        graft.ops.Bm25Index.maintain(s, corpus, idx)
        graft.ops.Bm25Index.bm25TopK(s, idx, bm25Terms, k = 20)
      },
      Some(Retrieval.bm25OracleSql(bm25Terms, k = 20)),
      headline = true),

    // Retrieval-QUALITY metrics as a gated query: nDCG@10 / MRR@10 /
    // recall@10 per query over the BM25 ranking against rule-derived
    // graded qrels (rel = #query-terms contained). The nDCG rank
    // discounts are Scala-computed LITERALS injected into both engines
    // (no cross-engine log), every metric folds over a ≤k array in
    // rank order, and the heap top-k never sorts the corpus — this
    // turns the RAG/BM25/RRF stack into a measurable system.
    GraftQuery("q_retrieval_metrics",
      // r16: the scoring pass is heavy per-row work (tokenize + |terms|
      // BM25 slots per doc) over a single-row-group scan — parallelize
      // it (guide §2.5; no-op on many-row-group inputs, rows unchanged;
      // measured 1.35→0.73 s at sf0.1)
      (s, dir) => Retrieval.retrievalMetrics(
        graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id")),
        col("doc_id"), col("text"), retrievalQueries),
      Some(Retrieval.retrievalMetricsOracleSql(retrievalQueries))),

    // The same metric suite over the HYBRID (BM25 + dense, RRF-fused)
    // ranking against the identical qrels — the fused stack's quality
    // becomes directly comparable to the sparse-only numbers above,
    // scored by the ONE shared metric tail (engine and oracle both).
    GraftQuery("q_retrieval_metrics_rrf",
      // r16: same scan-parallelism fix (the hybrid pass additionally
      // vectorizes every doc; measured 2.6→1.1 s at sf0.1 on top of
      // the single-reduction rewrite)
      (s, dir) => Retrieval.retrievalMetricsRrf(
        graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id")),
        col("doc_id"), col("text"), retrievalQueries),
      Some(Retrieval.retrievalMetricsRrfOracleSql(retrievalQueries))),

    // The DENSE arm under the same yardstick: the IVF serving shape
    // (trained k-means cells, nProbe probe, exact-cosine heap re-rank)
    // over hashing-vectorizer embeddings, scored against the identical
    // qrels by the one shared metric tail — sparse, hybrid, and dense
    // rankings now compose on one measurable surface (and the oracle
    // replays the whole k-means fit, so "dense quality" is itself a
    // hash-gated number, not a demo).
    GraftQuery("q_retrieval_metrics_dense",
      // r16: same scan-parallelism fix (per-doc vectorize feeds the
      // k-means fit cache AND the corpus assign; measured 2.9→2.2 s
      // at sf0.1)
      (s, dir) => Retrieval.retrievalMetricsDense(
        graft.ops.Joins.parallelizeScan(docs(s, dir), col("doc_id")),
        col("doc_id"), col("text"), retrievalQueries),
      Some(Retrieval.retrievalMetricsDenseOracleSql(retrievalQueries))),

    // Transitive duplicate GROUPS from the verified MinHash pairs:
    // connected components via DataFrame min-label propagation (pointer-
    // jumped, localCheckpoint-bounded lineage). Oracle replays the same
    // pair list through a recursive min-label closure in DuckDB.
    GraftQuery("q_dup_groups",
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = graft.dedup.MinHash
          .verifiedPairs(d, col("doc_id"), col("text"))
          .select(col("doc_a"), col("doc_b"))
        graft.dedup.Components.dupGroups(
          d, col("doc_id"), pairs, col("doc_a"), col("doc_b"))
      },
      Some {
        val cfg = graft.dedup.MinHash.Config()
        graft.dedup.MinHash.oracleCtes(cfg).replaceFirst("^WITH ", "WITH RECURSIVE ") +
          s""",
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= ${cfg.threshold}),
""" + graft.dedup.Components.dupGroupsOracleTail("pairs")
      }),

    // Duplicate-group canonicalization: same MinHash-verified pairs and
    // connected components as q_dup_groups, but the kept representative
    // is the highest-QUALITY member per component (tiebreak lowest id)
    // — the "train on the best copy" apply step of a dedup pass.
    GraftQuery("q_dup_canonical",
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = graft.dedup.MinHash
          .verifiedPairs(d, col("doc_id"), col("text"))
          .select(col("doc_a"), col("doc_b"))
        graft.dedup.Components.canonicalize(
          d, col("doc_id"), col("text"), pairs, col("doc_a"), col("doc_b"))
      },
      Some {
        val cfg = graft.dedup.MinHash.Config()
        graft.dedup.MinHash.oracleCtes(cfg).replaceFirst("^WITH ", "WITH RECURSIVE ") +
          s""",
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= ${cfg.threshold}),
""" + graft.dedup.Components.canonicalizeOracleTail("pairs")
      }),

    GraftQuery("q_dedup_simhash",
      (s, dir) => graft.dedup.SimHash.pairs(docs(s, dir), col("doc_id"), col("text")),
      Some(graft.dedup.SimHash.oracleSql())),

    GraftQuery("q_dedup_ngram",
      (s, dir) => graft.dedup.NgramJaccard.pairs(docs(s, dir), col("doc_id"), col("text")),
      Some(graft.dedup.NgramJaccard.oracleSql())),

    // Edit-distance fuzzy pairs: prefix-block candidates + levenshtein
    // verify (the record-linkage rung between exact and set-similarity
    // dedup; both engines implement unit-cost levenshtein).
    GraftQuery("q_dedup_fuzzy",
      (s, dir) => graft.dedup.EditDistance.pairs(docs(s, dir),
        col("doc_id"), col("text")),
      Some(graft.dedup.EditDistance.oracleSql())),

    // Prefix-filtering exact similarity join (AllPairs/PPJoin): exact
    // token-set Jaccard with candidates bounded by rarest-token prefix
    // postings — the exact-AT-SCALE rung between the full inverted-index
    // join (q_dedup_ngram) and the probabilistic MinHash band join.
    GraftQuery("q_dedup_prefixjoin",
      (s, dir) => graft.dedup.PrefixJoin.pairs(docs(s, dir),
        col("doc_id"), col("text")),
      Some(graft.dedup.PrefixJoin.oracleSql())),

    // Exact all-pairs baseline (O(N²) theta join — the verification
    // rung; the scale path is q_dedup_embedding_lsh below).
    GraftQuery("q_dedup_embedding",
      (s, dir) => graft.similarity.Ann.cosinePairs(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"), threshold = 0.45),
      Some(graft.similarity.Ann.cosinePairsOracle(0.45))),

    // LSH-bucketed embedding near-dup pairs: multi-table hyperplane
    // buckets → distinct candidates → exact cosine verify (the MinHash
    // band→verify pattern on vectors — no cartesian join anywhere,
    // PlanSpec-pinned). Output ⊆ q_dedup_embedding by construction;
    // recall vs exact asserted in DedupLadderSpec.
    GraftQuery("q_dedup_embedding_lsh",
      (s, dir) => graft.similarity.Ann.lshCosinePairs(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        threshold = 0.45, dim = 64),
      Some(graft.similarity.Ann.lshCosinePairsOracle(0.45, dim = 64))),

    // SemDeDup: semantic dedup via k-means clusters + within-cluster
    // cosine near-dup (keep-lowest-id). Pair volume is bounded by
    // cluster sizes, never O(N²); the oracle replays the whole fit.
    GraftQuery("q_semdedup",
      (s, dir) => graft.similarity.Ann.semDedup(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        threshold = 0.45),
      Some(graft.similarity.Ann.semDedupOracle(0.45,
        nCentroids = 16, kmeansIters = 5, dim = 64))),

    // Prototypicality pruning (SSL-prototypes, Sorscher et al. 2022):
    // k-means-cluster the embeddings, rank each point by quantized
    // cosine to its own centroid, drop the most prototypical 30% per
    // cluster (keep the hard examples). Same scale shape as SemDeDup;
    // the oracle replays the whole fit.
    GraftQuery("q_proto_prune",
      (s, dir) => graft.similarity.Ann.protoPrune(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        keepFraction = 0.7),
      Some(graft.similarity.Ann.protoPruneOracle(0.7,
        nCentroids = 16, kmeansIters = 5, dim = 64))),

    // ---- similarity search over embeddings --------------------------------

    GraftQuery("q_ann_topk",
      (s, dir) => graft.similarity.Ann.bruteForceTopK(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = col("vec_id") < 20, k = 5),
      Some(graft.similarity.Ann.bruteForceTopKOracle("vec_id < 20", 5)),
      headline = true),

    // The bounded-heap form of the same exact top-k (per-task memory
    // O(k), never corpus-group-sized — the 100×-safe path the
    // ann_recall_brute rung runs). Shares the window form's oracle, so
    // the gate enforces bit-identical output between the two paths.
    GraftQuery("q_ann_topk_heap",
      (s, dir) => graft.similarity.Ann.bruteForceTopKHeap(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = col("vec_id") < 20, k = 5),
      Some(graft.similarity.Ann.bruteForceTopKOracle("vec_id < 20", 5))),

    // Approximate variant (multi-probe LSH buckets + exact re-rank).
    // All hashing is deterministic md5, so the oracle replays bucket
    // assignment, hamming-1 probes, and the re-rank bit-for-bit —
    // recall vs the exact top-k is additionally asserted in
    // AnnMultimodalSpec.
    GraftQuery("q_ann_lsh_topk",
      (s, dir) => graft.similarity.Ann.lshTopK(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = col("vec_id") < 20, k = 5, dim = 64, nPlanes = 6),
      Some(graft.similarity.Ann.lshTopKOracle("vec_id < 20", k = 5,
        dim = 64, nPlanes = 6))),

    // Hard-negative mining (ANCE/DPR-style contrastive curation): for
    // each query vector, top-k nearest corpus vectors with a DIFFERENT
    // label — the multi-probe LSH candidate stream with a label-
    // mismatch filter before the exact re-rank. The corpus stays one
    // row per vector; cost tracks candidates, never corpus².
    GraftQuery("q_hard_negatives",
      (s, dir) => graft.similarity.Ann.hardNegatives(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        col("label"), isQuery = col("vec_id") < 20, k = 5, dim = 64,
        nPlanes = 6),
      Some(graft.similarity.Ann.hardNegativesOracle("vec_id < 20", k = 5,
        dim = 64, nPlanes = 6))),

    // kNN majority-vote classification (label propagation from a seed
    // set): multi-probe LSH candidates → exact top-k → one vote per
    // neighbor → (votes desc, label asc) election. Votes are exact
    // integers, so the whole election replays in SQL.
    GraftQuery("q_knn_classify",
      (s, dir) => graft.similarity.Ann.knnClassify(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        col("label"), isQuery = col("vec_id") < 50, k = 5, dim = 64,
        nPlanes = 6),
      Some(graft.similarity.Ann.knnClassifyOracle("vec_id < 50", k = 5,
        dim = 64, nPlanes = 6))),

    // Multimodal plumbing end-to-end: synthesize media table → batched
    // partition-parallel decode (stubbed codec) → feature vectors. The
    // stub is a declared deterministic fake (byte-nibble histogram in
    // float32), which makes the WHOLE chain hash-checkable: all 16
    // feature bins are emitted in portable floor-form and the oracle
    // replays the histogram + REAL-precision normalization in SQL.
    GraftQuery("q_multimodal_features",
      (s, dir) => {
        val feats = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.synthesize(docs(s, dir)))
        val fCols = (0 until graft.multimodal.Multimodal.FeatureDim).map(k =>
          floor(element_at(col("features"), k + 1).cast("double") * lit(1e6) + lit(0.5))
            .cast("long").as(s"f${k}_millionths"))
        feats.toDF().select(
          (Seq(col("doc_id"), col("media_type"), col("n_bytes")) ++ fCols): _*)
      },
      Some(graft.multimodal.Multimodal.featuresOracleSql())),

    // Multimodal RESIZE plumbing (the vision-pipeline normalization
    // pass): synthesize → injected scaler (nearest-neighbor stub over
    // the byte grid, pure integer arithmetic) → fixed 32×32 payloads
    // with updated metadata. The oracle rebuilds each resized payload
    // character-by-character and compares the md5 digest — the whole
    // byte path is hash-gated, not just the shapes.
    GraftQuery("q_multimodal_resize",
      (s, dir) => graft.multimodal.Multimodal.resize(
          graft.multimodal.Multimodal.synthesize(docs(s, dir)),
          dstW = 32, dstH = 32).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("resized_md5")),
      Some(graft.multimodal.Multimodal.resizeOracleSql(32, 32))),

    // The composed multimodal PIPELINE: synthesize → injected decoder
    // (stub here; the signature is the swap point for a real codec) →
    // k-means clustering over the decoded features → within-cluster
    // semantic near-dup verdict. One plan end-to-end; the oracle
    // replays every stage including the k-means fit.
    GraftQuery("q_multimodal_pipeline",
      (s, dir) => graft.multimodal.Multimodal.pipeline(
        docs(s, dir), threshold = 0.999),
      Some(graft.multimodal.Multimodal.pipelineOracleSql(0.999))),

    // Symmetric int8 quantization round-trip (vector-storage infra for
    // a training pipeline): per-vector scale = max|x|, q = round-to-int8,
    // reported as the max absolute dequantization error. All arithmetic
    // in portable floor-form.
    // avgForEach analog: per-label elementwise mean embedding,
    // integer-exact µ-quantized sums, dim-bounded reassembly. The
    // gate's row-sort can't order array columns, so the registered
    // form flattens the mean vector to (g, n, pos, mean_val); the
    // array-valued API is spec-tested (TextVectorSpec).
    GraftQuery("q_vector_mean_by",
      (s, dir) => graft.functions.VectorFunctions.vectorMeanBy(
          Tables.embeddings(s, dir), col("label"), col("embedding"))
        .select(col("g"), col("n"), posexplode(col("mean_vec")))
        .select(col("g"), col("n"), col("pos").cast("long").as("pos"),
          col("col").as("mean_val")),
      Some(graft.functions.VectorFunctions.vectorMeanByFlatOracleSql)),

    GraftQuery("q_embedding_quantize",
      (s, dir) => {
        // scale and quant are bound once per row (bindOnce) — inlining
        // the scale tree into the per-element lambdas would re-reduce
        // the whole vector per component (O(d²) per row)
        val out = TextFunctions.bindOnce(col("embedding").cast("array<double>")) { v =>
          TextFunctions.bindOnce(array_max(transform(v, x => abs(x)))) { scale =>
            TextFunctions.bindOnce(
              transform(v, x => floor(x / scale * 127 + lit(0.5)))) { quant =>
              val err = array_max(zip_with(v, quant,
                (x, q) => abs(x - q * scale / 127)))
              struct(
                when(scale > 0, floor(err * lit(1e6) + lit(0.5)).cast("long"))
                  .otherwise(lit(0L)).as("max_err_millionths"),
                when(scale > 0, floor(scale * lit(1e6) + lit(0.5)).cast("long"))
                  .otherwise(lit(0L)).as("scale_millionths"))
            }
          }
        }
        Tables.embeddings(s, dir).select(col("vec_id"), out.as("o"))
          .select(col("vec_id"), col("o.max_err_millionths"),
            col("o.scale_millionths"))
      },
      Some("""SELECT vec_id, CASE WHEN scale > 0 THEN CAST(floor(list_max(list_transform(range(1, len(v)+1), i -> abs(v[i] - floor(v[i]/scale*127 + 0.5) * scale / 127))) * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS max_err_millionths, CASE WHEN scale > 0 THEN CAST(floor(scale * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS scale_millionths FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))""")),

    GraftQuery("q_embedding_norm",
      (s, dir) => Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        round(VectorFunctions.norm(col("embedding")), 4).as("l2_norm")),
      Some("""SELECT vec_id, label, round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 4) AS l2_norm FROM embeddings""")),

    // ---- ClickHouse time-series / behavioral surface (ops.TimeSeries) ----

    // ORDER BY ... WITH FILL STEP 1 DAY ... INTERPOLATE analog: per-user
    // daily purchase spend densified over each user's own day span, with
    // forward-fill and integer-exact linear interpolation.
    GraftQuery("q_gap_fill",
      (s, dir) => graft.ops.TimeSeries.gapFillDaily(
        ev(s, dir).filter(col("event_type") === "purchase"),
        col("user_id"), col("ts"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.gapFillDailyOracleSql("purchase")),
      headline = true),

    // ClickHouse INTERPOLATE's actual column rules, one-sided: fill
    // rows compute from the PREVIOUS row only (carry-forward Δ=0 and
    // the documented `v AS v + Δ` linear-step rule as the exact closed
    // form prev + Δ·gaps), the axis is the GLOBAL [min, max] span
    // (the FROM/TO-omitted form), and a series' pre-first fill rows
    // take the type default 0 — three behaviors q_gap_fill's
    // two-sided bracketing deliberately does not have. The value>250
    // filter (≈ the 99.5th percentile) sparsifies the per-type series
    // so observed / interior-gap / pre-first classes ALL populate at
    // both gate SFs (measured 7/34/35 at sf0.001, 54/95/1 at sf0.01 —
    // FixtureCoverageSpec pins them against testdata drift).
    GraftQuery("q_gap_fill_interpolate",
      (s, dir) => graft.ops.TimeSeries.withFillInterpolate(
        ev(s, dir).filter(col("value") > 250)
          .groupBy(col("event_type").as("k"),
            datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01")))
              .cast("long").as("x"))
          .agg(sum(round(col("value") * 1e6, 0).cast("long")).as("v")),
        step = 1L,
        interpolations = Seq("v_carry" -> 0L, "v_linstep" -> 250000L)),
      Some(graft.ops.TimeSeries.withFillInterpolateOracleSql(
        "SELECT event_type AS k, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x, CAST(sum(CAST(round(value*1000000,0) AS BIGINT)) AS BIGINT) AS v FROM events WHERE value > 250 GROUP BY 1,2",
        step = 1L,
        interpolations = Seq("v_carry" -> 0L, "v_linstep" -> 250000L)))),

    // Composed dashboard series — the ClickHouse `WITH FILL …
    // INTERPOLATE` + window-function combo every engagement dashboard
    // runs: sparse high-value daily sums per event_type, densified over
    // each type's span, then a 7-row moving sum/avg over the FILLED
    // axis (rows-frame on the dense axis = a true 7-DAY window, which
    // is exactly why the fill runs first). Composition of the two
    // operators above; oracle machine-composed from their SQL builders.
    GraftQuery("q_dashboard_series",
      (s, dir) => {
        val filled = graft.ops.TimeSeries.gapFillDaily(
          ev(s, dir).filter(col("value") > 250),
          col("event_type"), col("ts"),
          round(col("value") * 1e6, 0).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("day")).rowsBetween(-6, 0)
        filled.select(col("k"), col("day"), col("observed"), col("v_interp"),
          sum(col("v_interp")).over(w).as("mov_sum"),
          (sum(col("v_interp")).over(w).cast("double") /
            count(lit(1)).over(w)).as("mov_avg"))
      },
      Some(s"""WITH gf AS (${graft.ops.TimeSeries.gapFillDailyOracleSqlKeyed("event_type", "value > 250")})
SELECT k, day, observed, v_interp,
 CAST(sum(v_interp) OVER (PARTITION BY k ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum,
 CAST(sum(v_interp) OVER (PARTITION BY k ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / count(*) OVER (PARTITION BY k ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_avg
FROM gf""")),

    // INCREMENTALLY-served dashboard series (the reference's real-time
    // serving posture): the events land in three simulated micro-batches
    // as additive SummingStore parts (Dashboard.dailySumSink — the same
    // function Structured Streaming's foreachBatch drives), then the
    // serving read merges the MV-cardinality parts and runs the SAME
    // fill operator as the batch path. The oracle is the one-shot batch
    // SQL — the incremental plan must reproduce it hash-exactly.
    GraftQuery("q_dashboard_series_inc",
      (s, dir) => {
        val mv = scratchDir("graft_dash") + "/mv"
        val sink = graft.streaming.Dashboard.dailySumSink(col("event_type"),
          col("ts"), round(col("value") * 1e6, 0).cast("long"), mv)
        val e = ev(s, dir)
        (0 until 3).foreach(i =>
          sink(e.filter(pmod(col("event_id"), lit(3)) === i), i.toLong))
        graft.streaming.Dashboard.gapFillSeries(s, mv).get
      },
      Some(graft.ops.TimeSeries.gapFillDailyOracleSqlKeyed("event_type", "TRUE"))),

    // Numeric-axis WITH FILL: per event_type, densify the floor(value)
    // axis over the type's own [min, max] with ffill + interpolation.
    GraftQuery("q_gap_fill_numeric",
      (s, dir) => graft.ops.TimeSeries.gapFillNumeric(ev(s, dir),
        col("event_type"), floor(col("value")),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.gapFillNumericOracleSql)),

    // sequenceMatch('(?1).*(?2).*(?3)') analog: view → click → purchase
    // at strictly increasing timestamps, no window bound.
    GraftQuery("q_seq_match",
      (s, dir) => graft.ops.TimeSeries.sequenceMatchUsers(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase")),
      Some(graft.ops.TimeSeries.sequenceMatchOracleSql(
        "view", "click", "purchase"))),

    // sequenceMatch with the ADJACENT-step (?t<6h) constraint, matched
    // exactly via the per-step viable-set DP (greedy min-chains are
    // incomplete under gaps).
    GraftQuery("q_seq_match_gap",
      (s, dir) => graft.ops.TimeSeries.sequenceMatchGapUsers(ev(s, dir),
        col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"),
        gapUs = 6L * 3600000000L),
      Some(graft.ops.TimeSeries.sequenceMatchGapOracleSql(
        "view", "click", "purchase", 6L * 3600000000L))),

    // strict_order sequenceMatch: any interposed event breaks the
    // chain; exact via the viable-set DP with the P = L identity.
    GraftQuery("q_seq_match_strict",
      (s, dir) => graft.ops.TimeSeries.sequenceMatchStrictOrderUsers(
        ev(s, dir), col("user_id"), col("ts"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase")),
      Some(graft.ops.TimeSeries.sequenceMatchStrictOrderOracleSql(
        "view", "click", "purchase"))),

    // sequenceNextNode('forward','first_match') analog: for users
    // completing view → click (earliest chain), the event type they do
    // NEXT — chained survivor-set hash aggs + one struct-min, no
    // per-user window.
    GraftQuery("q_seq_next_node",
      (s, dir) => graft.ops.TimeSeries.sequenceNextNode(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        Seq(col("event_type") === "view", col("event_type") === "click")),
      Some(graft.ops.TimeSeries.sequenceNextNodeOracleSql("view", "click"))),

    // sequenceCount('(?1).*(?2)') analog: greedy non-overlapping
    // view → purchase pairs per user via the prefix-deficit identity.
    GraftQuery("q_seq_count",
      (s, dir) => graft.ops.TimeSeries.sequenceCountPairs(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"),
        col("event_type") === "view", col("event_type") === "purchase"),
      Some(graft.ops.TimeSeries.sequenceCountOracleSql("view", "purchase"))),

    // sequenceCount with EXACT ClickHouse restart-after-match parity
    // (A,A,B,B counts 1 here, 2 under q_seq_count's maximum matching):
    // adjacency-count identity, two-phase bucketed lag.
    GraftQuery("q_seq_count_restart",
      (s, dir) => graft.ops.TimeSeries.sequenceCountRestart(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"),
        col("event_type") === "view", col("event_type") === "purchase"),
      Some(graft.ops.TimeSeries.sequenceCountRestartOracleSql("view", "purchase"))),

    // quantileExactWeighted analog: integer-exact weighted type-1
    // quantiles of the µ-unit value, weight = 1 + user_id % 9, ranks as
    // exact rationals (all dyadic here, but any rational works).
    GraftQuery("q_weighted_quantile",
      (s, dir) => graft.ops.TimeSeries.weightedQuantiles(ev(s, dir),
        round(col("value") * 1e6, 0).cast("long"),
        lit(1L) + pmod(col("user_id"), lit(9L)),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16)),
      Some(graft.ops.TimeSeries.weightedQuantilesOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16))),
      headline = true),

    // INCREMENTAL weighted quantiles: per-value weights are additive,
    // so three simulated micro-batches land per-chunk (v → Σw) parts
    // and the quantile read runs over the merged distinct-value MV —
    // same oracle as the one-shot q_weighted_quantile.
    GraftQuery("q_weighted_quantile_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_wq")
        val mv = s"$tmpP/wqmv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = e.filter(pmod(col("event_id"), lit(3)) === i)
            .groupBy(round(col("value") * 1e6, 0).cast("long").as("v"))
            .agg(sum(lit(1L) + pmod(col("user_id"), lit(9L))).as("w"))
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"wq-chunk$i"))
        }
        graft.ops.TimeSeries.weightedQuantilesFromWeights(
          graft.sinks.SummingStore.read(s, mv, Seq("v"), Seq("w")).get,
          Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16))
      },
      Some(graft.ops.TimeSeries.weightedQuantilesOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16)))),

    // groupArrayMovingSum/Avg analog: 7-row moving frame over per-type
    // daily µ-unit sums.
    GraftQuery("q_moving_agg",
      (s, dir) => graft.ops.TimeSeries.movingAgg(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"), frame = 7),
      Some(graft.ops.TimeSeries.movingAggOracleSql(7))),

    // groupBitmapAnd analog: exact audience intersections + Jaccard for
    // every event-type pair.
    // groupBitmap/bitmapAnd|Or|Xor|AndnotCardinality analog: full
    // segment-pair set algebra over word-level bitmap relations (only
    // the intersection joins; or/xor/andnot derive from cardinalities).
    GraftQuery("q_bitmap_overlap",
      (s, dir) => graft.ops.Bitmaps.segmentOverlap(ev(s, dir),
        col("event_type"), col("user_id")),
      Some(graft.ops.Bitmaps.segmentOverlapOracleSql),
      headline = true),

    // bitmapMin/bitmapMax analog: per-segment id extremes read off
    // the bitmap words (struct-min/max + branch-free bit arithmetic).
    GraftQuery("q_bitmap_minmax",
      (s, dir) => graft.ops.Bitmaps.minMax(graft.ops.Bitmaps.build(
        ev(s, dir), col("event_type"), col("user_id"))),
      Some(graft.ops.Bitmaps.minMaxOracleSql)),

    GraftQuery("q_audience_overlap",
      (s, dir) => graft.ops.TimeSeries.audienceOverlap(ev(s, dir),
        col("event_type"), col("user_id")),
      Some(graft.ops.TimeSeries.audienceOverlapOracleSql)),

    // maxIntersections/maxIntersectionsPosition analog: peak concurrent
    // engagement intervals [ts, ts + value s) and the earliest instant
    // of the peak — two-phase day-bucketed sweep line, the only
    // single-partition window running on the |days| carry table.
    GraftQuery("q_max_concurrency",
      (s, dir) => graft.ops.Intervals.maxIntersections(ev(s, dir),
        col("ts"),
        expr("timestampadd(MICROSECOND, CAST(round(value*1000000, 0) AS BIGINT), ts)")),
      Some(graft.ops.Intervals.maxIntersectionsOracleSql)),

    // AS-OF join with a staleness tolerance (pandas merge_asof
    // tolerance= semantics): versions older than 12 h before the event
    // are discarded — the row keeps its left-outer null rather than
    // enriching from a stale snapshot. Same single-shuffle union+window
    // plan as q_asof_join; the bound is one `when` over the payload.
    GraftQuery("q_asof_tolerance",
      (s, dir) => {
        val e = ev(s, dir)
        val key = concat(lit("content-"), pmod(col("event_id"), lit(40)))
        val left = e.select(col("event_id"), key.as("content_key"), col("ts"))
        val versions = e.filter(pmod(col("event_id"), lit(7)) === 0)
          .select(key.as("vkey"), col("ts").as("vts"),
            (floor(col("value") * 100 + lit(0.5)) / 100).as("price"),
            col("event_id").as("vid"))
        val deduped = Dedup.lww(versions, Seq(col("vkey"), col("vts")),
            col("vid"), col("vid"))
          .select("vkey", "vts", "price")
        Enrich.asOfJoinWithin(left, col("content_key"), col("ts"),
            deduped, col("vkey"), col("vts"), rightTsField = "vts",
            tolerance = "12 HOURS")
          .select(col("event_id"), col("content_key"),
            date_format(col("ts"), tsFull).as("ts_str"),
            col("asof.price").as("price_asof"),
            date_format(col("asof.vts"), tsFull).as("version_ts"))
      },
      Some(s"""WITH l AS (SELECT event_id, 'content-' || CAST(event_id % 40 AS VARCHAR) AS content_key, ts FROM events),
v AS (SELECT 'content-' || CAST(event_id % 40 AS VARCHAR) AS vkey, ts AS vts, floor(value*100 + 0.5)/100 AS price FROM events WHERE event_id % 7 = 0 QUALIFY row_number() OVER (PARTITION BY vkey, ts ORDER BY event_id DESC) = 1)
SELECT event_id, content_key, strftime(ts, '$tsFullSql') AS ts_str, CASE WHEN vts >= ts - INTERVAL 12 HOUR THEN price END AS price_asof, CASE WHEN vts >= ts - INTERVAL 12 HOUR THEN strftime(vts, '$tsFullSql') END AS version_ts FROM l ASOF LEFT JOIN v ON l.content_key = v.vkey AND l.ts >= v.vts""")),

    // topKWeighted analog: weighted Misra–Gries sketch (each event
    // carries weight 1 + user_id % 9). Same boolean-accuracy oracle
    // treatment as q_heavy_hitters, with N replaced by W = Σ weights:
    // items above W/(k+1) must be captured, estimates undercount by at
    // most W/(k+1).
    GraftQuery("q_heavy_hitters_weighted",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        val e = ev(s, dir)
          .withColumn("w", (lit(1L) + pmod(col("user_id"), lit(9L))).cast("long"))
        val tot = e.agg(sum(col("w")).as("wtot"))
        val exact = e.groupBy(col("event_type")).agg(sum(col("w")).as("wcnt"))
        val sk = e.agg(expr("misra_gries_w(event_type, w, 8)").as("hh"))
          .select(explode(col("hh")).as("it"))
          .select(col("it.item").as("event_type"), col("it.est").as("est"))
        exact.crossJoin(broadcast(tot))
          .filter(col("wcnt") > col("wtot") / lit(9.0))
          .join(sk, Seq("event_type"), "left")
          .select(col("event_type"), col("wcnt"),
            col("est").isNotNull.as("captured"),
            (col("est").isNotNull && col("est") <= col("wcnt") &&
              col("est") >= col("wcnt") - col("wtot") / lit(9.0)).as("est_bounded"))
      },
      Some("""WITH tot AS (SELECT sum(1 + user_id % 9) AS wtot FROM events), ex AS (SELECT event_type, CAST(sum(1 + user_id % 9) AS BIGINT) AS wcnt FROM events GROUP BY 1) SELECT event_type, wcnt, TRUE AS captured, TRUE AS est_bounded FROM ex, tot WHERE wcnt > wtot / 9.0""")),

    // uniqUpTo(N) analog: exact distinct count saturating at N+1 —
    // ClickHouse's "exact until N, then 'more than N'" contract, here
    // as a plain capped count_distinct (the cap communicates intent;
    // Spark still computes the exact distinct underneath, so the 100 TB
    // path for huge domains is the HLL sketch query q_sketch_distinct).
    GraftQuery("q_uniq_upto",
      (s, dir) => ev(s, dir).groupBy(col("event_type"))
        .agg(least(count_distinct(col("user_id")), lit(100L)).as("uniq_upto_99"),
          least(count_distinct(col("user_id")), lit(1000L)).as("uniq_upto_999")),
      Some("""SELECT event_type, least(count(DISTINCT user_id), 100) AS uniq_upto_99, least(count(DISTINCT user_id), 1000) AS uniq_upto_999 FROM events GROUP BY 1""")),

    // intervalLengthSum analog: per-user union length of overlapping
    // engagement intervals [ts, ts + value s), exact µs coverage sweep.
    GraftQuery("q_interval_coverage",
      (s, dir) => graft.ops.Intervals.intervalLengthSum(ev(s, dir),
        col("user_id"), col("ts"),
        expr("timestampadd(MICROSECOND, CAST(round(value*1000000, 0) AS BIGINT), ts)")),
      Some(graft.ops.Intervals.intervalLengthSumOracleSql)),

    // Path-analysis trigram flows (sequenceNextNode/sankey core):
    // consecutive event-type triples per user, counted corpus-wide.
    GraftQuery("q_path_trigrams",
      (s, dir) => graft.ops.TimeSeries.pathTrigrams(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type")),
      Some(graft.ops.TimeSeries.pathTrigramsOracleSql)),

    // M4 downsampling (VLDB'14): per event_type and day bucket, the
    // min/max/first/last µ-values — the error-free chart reduction.
    GraftQuery("q_m4_downsample",
      (s, dir) => graft.ops.TimeSeries.m4Downsample(ev(s, dir),
        col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 86400000000L),
      Some(graft.ops.TimeSeries.m4DownsampleOracleSql(86400000000L))),

    // uniqUpTo(N) as a REAL bounded-state aggregate (state capped at
    // N+1 longs per group however large the true cardinality —
    // contrast the capped-count SQL form in q_uniq_upto, which answers
    // the same but shuffles every distinct pair).
    GraftQuery("q_uniq_upto_agg",
      (s, dir) => {
        graft.GraftExtensions.install(s)
        ev(s, dir).groupBy(col("event_type"))
          .agg(expr("uniq_up_to(user_id, 100)").as("uniq_upto_100"),
            expr("uniq_up_to(user_id, 1000)").as("uniq_upto_1000"))
      },
      Some("""SELECT event_type, least(count(DISTINCT user_id), 101) AS uniq_upto_100, least(count(DISTINCT user_id), 1001) AS uniq_upto_1000 FROM events GROUP BY 1""")),

    // Time-weighted average: sampled-gauge mean per user (each value
    // holds until the next sample), integer-exact num/den.
    GraftQuery("q_time_weighted_avg",
      (s, dir) => graft.ops.TimeSeries.timeWeightedAvg(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1e3, 0).cast("long")),
      Some(graft.ops.TimeSeries.timeWeightedAvgOracleSql)),

    // deltaSum analog: per-user sum of positive steps between
    // consecutive values — the monotone-counter-with-resets accumulator.
    GraftQuery("q_delta_sum",
      (s, dir) => graft.ops.TimeSeries.deltaSum(ev(s, dir),
        col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.deltaSumOracleSql)),

    // exponentialTimeDecayedSum/Count/Avg/Max analog: per-user decayed
    // engagement relative to the user's own latest activity, 12 h
    // half-life on the dyadic half-life grid (exact — no exp() in
    // either engine; see TimeSeries.expTimeDecayed's contract).
    GraftQuery("q_exp_decay",
      (s, dir) => graft.ops.TimeSeries.expTimeDecayed(ev(s, dir),
        col("user_id"), col("ts"),
        round(col("value") * 1e3, 0).cast("long"), halfLifeSeconds = 43200L),
      Some(graft.ops.TimeSeries.expTimeDecayedOracleSql(43200L)),
      headline = true),

    // INCREMENTAL decayed score: the (key, half-life-bucket) partials
    // are cnt/sum/max-additive, so three simulated micro-batches land
    // AggregatingStore states (with a mid-stream OPTIMIZE) and the
    // serve-time readout weights the merged buckets — same oracle as
    // the one-shot q_exp_decay, merged-state exactness by construction.
    GraftQuery("q_exp_decay_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_expdec")
        val mv = s"$tmpP/expdecmv"
        val A = graft.sinks.AggregatingStore
        val h = 43200L * 1000000L
        val e = ev(s, dir)
          .where(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("event_id"), col("user_id").as("k"),
            unix_micros(col("ts")).as("tu"),
            round(col("value") * 1e3, 0).cast("long").as("v"))
          .withColumn("b", expr(s"tu div $h"))
        (0 until 3).foreach { i =>
          val delta = e.filter(pmod(col("event_id"), lit(3)) === i)
          A.appendDelta(A.partialState(delta, Seq(col("k"), col("b")),
            col("v"), col("k")), mv, tag = Some(s"expdec-chunk$i"))
          if (i == 1) A.compact(s, mv, Seq("k", "b"))
        }
        val states = A.readStates(s, mv, Seq("k", "b")).get
        graft.ops.TimeSeries.expTimeDecayedFromBuckets(states.select(
          col("k"), col("b"),
          col("sum_state").cast(DecimalType(38, 0)).as("s"),
          col("cnt_state").cast(DecimalType(38, 0)).as("c"),
          col("max_state").as("mx")))
      },
      Some(graft.ops.TimeSeries.expTimeDecayedOracleSql(43200L))),

    // retention(cond1, cond2, cond3) analog — ClickHouse's LITERAL
    // condition-flag aggregate: users ever doing 'view', and of those
    // the counts also doing 'click' / 'purchase' (the calendar-cohort
    // table is the separate q_retention).
    GraftQuery("q_retention_conds",
      (s, dir) => graft.ops.TimeSeries.retention(ev(s, dir), col("user_id"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase")),
      Some(graft.ops.TimeSeries.retentionOracleSql("view", "click", "purchase"))),

    // skewPop/kurtPop/corr analog family: exact DECIMAL(38,0) power
    // sums (order-independent) + derived population moments whose
    // double arithmetic mirrors the oracle operation-for-operation —
    // the reproducible form of what corr()/skewness() compute with
    // order-dependent double accumulation.
    GraftQuery("q_moment_stats",
      (s, dir) => graft.ops.TimeSeries.momentStats(ev(s, dir),
        col("event_type"), round(col("value") * 100, 0).cast("long"),
        col("user_id")),
      Some(graft.ops.TimeSeries.momentStatsOracleSql)),

    // INCREMENTAL M4: per-chunk mergeable partials (min/max/struct-
    // first/struct-last/count) land as parts; the finalize re-aggregate
    // must reproduce the one-shot M4 oracle bit-for-bit — part order
    // and batching cannot matter because every component is
    // associative+commutative.
    GraftQuery("q_m4_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_m4")
        val mv = s"$tmpP/m4mv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.TimeSeries.m4Partial(
            e.filter(pmod(col("event_id"), lit(3)) === i),
            col("event_type"), col("ts"), col("event_id"),
            round(col("value") * 1e6, 0).cast("long"),
            bucketUs = 86400000000L)
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"m4-chunk$i"))
        }
        graft.ops.TimeSeries.m4FromPartials(
          graft.sinks.SnapshotStore.read(s, mv).get)
      },
      Some(graft.ops.TimeSeries.m4DownsampleOracleSql(86400000000L))),

    // sumMap analog: per-user event_type → Σ µ-value map in canonical
    // sorted-string form.
    GraftQuery("q_summap",
      (s, dir) => graft.ops.TimeSeries.sumMap(ev(s, dir),
        col("user_id"), col("event_type"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.sumMapOracleSql)),

    // ClickHouse A/B statistical-test surface (welchTTest / studentTTest
    // / mannWhitneyUTest / kolmogorovSmirnovTest / cramersV / theilsU
    // analogs): click-vs-view µ-unit engagement values as the two arms;
    // exact decimal partials + op-mirrored doubles (Stats scaladoc).
    GraftQuery("q_welch_ttest",
      (s, dir) => graft.ops.Stats.welchTTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.welchTTestOracleSql)),

    GraftQuery("q_student_ttest",
      (s, dir) => graft.ops.Stats.studentTTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.studentTTestOracleSql)),

    GraftQuery("q_mann_whitney",
      (s, dir) => graft.ops.Stats.mannWhitneyU(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.mannWhitneyUOracleSql)),

    GraftQuery("q_ks_test",
      (s, dir) => graft.ops.Stats.ksTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.ksTestOracleSql)),

    // dominant period per event type: exact-integer autocorrelation
    // over zero-filled hourly buckets, argmax of the quantized ACF
    // with a smallest-lag tiebreak (seriesPeriodDetectFFT analog).
    GraftQuery("q_series_period",
      (s, dir) => graft.ops.Seasonal.periodDetect(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 3600000000L, maxLag = 36),
      Some(graft.ops.Seasonal.periodDetectOracleSql(3600000000L, 36))),

    // classical seasonal decomposition at period 24 over hourly
    // buckets: exact integer numerators, r6-quantized trend/seasonal/
    // residual (seriesDecomposeSTL analog, moving-average flavor).
    GraftQuery("q_series_stl",
      (s, dir) => graft.ops.Seasonal.stlDecompose(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 3600000000L, period = 24),
      Some(graft.ops.Seasonal.stlDecomposeOracleSql(3600000000L, 24)),
      headline = true),

    // seasonal-aware anomalies: STL residuals beyond 3σ of the
    // per-key residual distribution, exact integer comparison.
    GraftQuery("q_series_anomaly",
      (s, dir) => graft.ops.Seasonal.stlAnomalies(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 3600000000L, period = 24),
      Some(graft.ops.Seasonal.stlAnomaliesOracleSql(3600000000L, 24))),

    // seasonal-naive forecast backtest: f_b = v_{b-24} over hourly
    // buckets, exact MAE/sMAPE per event type.
    GraftQuery("q_forecast_eval",
      (s, dir) => graft.ops.Seasonal.seasonalNaiveEval(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 3600000000L, period = 24),
      Some(graft.ops.Seasonal.seasonalNaiveEvalOracleSql(3600000000L, 24))),

    // drill-down composition: top-3 contributing users per
    // seasonally-anomalous bucket (series-bounded anomaly broadcast,
    // per-bucket rank window).
    GraftQuery("q_anomaly_drilldown",
      (s, dir) => graft.ops.Seasonal.anomalyDrilldown(ev(s, dir),
        col("event_type"), col("ts"), col("user_id"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 3600000000L, period = 24, topK = 3),
      Some(graft.ops.Seasonal.anomalyDrilldownOracleSql(
        3600000000L, 24, 3))),

    // pairwise Pearson matrix of (µ-value, hour, user bucket) from
    // one pass of exact sums (corrMatrix analog).
    GraftQuery("q_corr_matrix",
      (s, dir) => graft.ops.Stats.corrMatrix(ev(s, dir), Seq(
        "v" -> round(col("value") * 1e6, 0).cast("long"),
        "h" -> hour(col("ts")).cast("long"),
        "u" -> (col("user_id") % 100))),
      Some(graft.ops.Stats.corrMatrixOracleSql)),

    // exact ROC AUC of the µ-value separating clicks from views
    // (arrayAUC analog, midrank ties, no global sort).
    GraftQuery("q_roc_auc",
      (s, dir) => graft.ops.Stats.rocAuc(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.rocAucOracleSql)),

    // per-category weight of evidence + IV terms of user_id%10
    // against the click tag (categoricalInformationValue analog).
    GraftQuery("q_categorical_woe",
      (s, dir) => graft.ops.Stats.categoricalWoe(ev(s, dir),
        col("user_id") % 10, col("event_type") === "click"),
      Some(graft.ops.Stats.categoricalWoeOracleSql)),

    GraftQuery("q_cramers_v",
      (s, dir) => graft.ops.Stats.cramersV(ev(s, dir),
        col("event_type"), col("user_id") % 10),
      Some(graft.ops.Stats.cramersVOracleSql)),

    GraftQuery("q_theils_u",
      (s, dir) => graft.ops.Stats.theilsU(ev(s, dir),
        col("event_type"), col("user_id") % 10),
      Some(graft.ops.Stats.theilsUOracleSql)),

    // rankCorr (Spearman, midrank ties) between the µ-value and its
    // millisecond remainder — two decorrelated integer axes.
    GraftQuery("q_rank_corr",
      (s, dir) => graft.ops.Stats.rankCorr(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        round(col("value") * 1e6, 0).cast("long"),
        round(col("value") * 1e3, 0).cast("long") % 1000),
      Some(graft.ops.Stats.rankCorrOracleSql),
      headline = true),

    // meanZTest with variances pinned at the µ²-unit scale.
    GraftQuery("q_mean_ztest",
      (s, dir) => graft.ops.Stats.meanZTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long"), 1e14, 1e14),
      Some(graft.ops.Stats.meanZTestOracleSql)),

    // The ClickHouse dashboard-rounding ladders in one sweep:
    // roundToExp2 over the event id (bit-exact via binary digit count,
    // no libm log2), roundDuration over value-as-seconds, roundAge over
    // a synthesized age axis — grouped so the gate checks every ladder
    // band's population, not just per-row values.
    GraftQuery("q_round_ladders",
      (s, dir) => ev(s, dir).groupBy(
          graft.functions.Rounding.roundToExp2(pmod(col("event_id"), lit(100000)))
            .as("exp2_bucket"),
          graft.functions.Rounding.roundDuration(
            floor(col("value") * 40).cast("long")).as("dur_bucket"),
          graft.functions.Rounding.roundAge(pmod(col("user_id"), lit(90)))
            .as("age_bucket"))
        .agg(count(lit(1)).as("cnt")),
      Some(s"""SELECT ${graft.functions.Rounding.roundToExp2Sql("event_id % 100000")} AS exp2_bucket,
 ${graft.functions.Rounding.roundDurationSql("CAST(floor(value * 40) AS BIGINT)")} AS dur_bucket,
 ${graft.functions.Rounding.roundAgeSql("user_id % 90")} AS age_bucket,
 count(*) AS cnt FROM events GROUP BY 1, 2, 3""")),

    // proportionsZTest (pooled): conversion = value >= 0.5, arms
    // click vs view — completes the ClickHouse hypothesis-test six.
    GraftQuery("q_proportions_ztest",
      (s, dir) => graft.ops.Stats.proportionsZTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click", col("value") >= 0.5),
      Some(graft.ops.Stats.proportionsZTestOracleSql("value >= 0.5"))),

    // the unpooled (usevar = 'unpooled') variant of the same test —
    // ClickHouse's other usevar arm, distinct se algebra.
    GraftQuery("q_proportions_ztest_unpooled",
      (s, dir) => graft.ops.Stats.proportionsZTest(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click", col("value") >= 0.5, pooled = false),
      Some(graft.ops.Stats.proportionsZTestOracleSql("value >= 0.5",
        pooled = false))),

    // simpleLinearRegression analog: per-event-type trend of the
    // µ-value over the hour-of-epoch axis (integer-exact hour index).
    GraftQuery("q_linreg",
      (s, dir) => graft.ops.Stats.linearRegression(ev(s, dir),
        col("event_type"),
        expr("unix_micros(ts) div 3600000000"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.linearRegressionOracleSql)),

    // entropy(event_type): Shannon bits of the value distribution.
    GraftQuery("q_value_entropy",
      (s, dir) => graft.ops.Stats.columnEntropy(ev(s, dir),
        col("event_type")),
      Some(graft.ops.Stats.columnEntropyOracleSql)),

    // deterministic equi-depth histogram(8) over the µ-value.
    // (named _eqdepth: q_histogram is the round-2 equi-width query —
    // a duplicate name silently shadows the earlier entry in the
    // runners/oracles maps and drops it from the correctness gate)
    GraftQuery("q_histogram_eqdepth",
      (s, dir) => graft.ops.Stats.equiDepthHistogram(ev(s, dir),
        round(col("value") * 1e6, 0).cast("long"), nBins = 8),
      Some(graft.ops.Stats.equiDepthHistogramOracleSql)),

    // LTTB downsampling (parallel centroid-anchored variant), daily
    // buckets per event type.
    GraftQuery("q_lttb",
      (s, dir) => graft.ops.TimeSeries.lttb(ev(s, dir),
        col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long"),
        bucketUs = 86400000000L),
      Some(graft.ops.TimeSeries.lttbOracleSql(86400000000L))),

    // one-way ANOVA F across event types over the µ-value.
    GraftQuery("q_anova",
      (s, dir) => graft.ops.Stats.anovaF(ev(s, dir),
        round(col("value") * 1e6, 0).cast("long"), col("event_type")),
      Some(graft.ops.Stats.anovaFOracleSql)),

    // Tukey 1.5-IQR outlier fences per event type (exact quartiles,
    // rational fence arithmetic).
    GraftQuery("q_outliers_tukey",
      (s, dir) => graft.ops.Stats.tukeyOutliers(ev(s, dir),
        col("event_type"), round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.tukeyOutliersOracleSql)),

    // minMap/maxMap companions to sumMap.
    GraftQuery("q_minmax_map",
      (s, dir) => graft.ops.TimeSeries.minMaxMap(ev(s, dir),
        col("user_id"), col("event_type"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.minMaxMapOracleSql)),

    // boundingRatio: first→last slope per event type (µ-units/sec).
    GraftQuery("q_bounding_ratio",
      (s, dir) => graft.ops.TimeSeries.boundingRatio(ev(s, dir),
        col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.TimeSeries.boundingRatioOracleSql)),

    // sparkbar(31): daily activity bar per event type over Jan 2024.
    GraftQuery("q_sparkbar",
      (s, dir) => graft.ops.TimeSeries.sparkbar(ev(s, dir),
        col("event_type"), col("ts"),
        round(col("value") * 1e6, 0).cast("long"),
        buckets = 31, spanStartUs = 1704067200000000L,
        spanUs = 31L * 86400000000L),
      Some(graft.ops.TimeSeries.sparkbarOracleSql(
        31, 1704067200000000L, 31L * 86400000000L))),

    // 2-D spatial band join: grid-stencil pairs within a 2-degree box
    // on a sampled point set (brute-force oracle is the spec).
    GraftQuery("q_geo_box_join",
      (s, dir) => graft.ops.Spatial.boxPairs(
        ev(s, dir).filter(pmod(col("user_id"), lit(37)) === 0)
          .select(col("event_id"),
            round((pmod(col("user_id"), lit(3600)).cast("double") / 10 - 180)
              * 1e6, 0).cast("long").as("lon_u"),
            round((pmod(col("event_id"), lit(1700)).cast("double") / 10 - 85)
              * 1e6, 0).cast("long").as("lat_u")),
        col("event_id"), col("lon_u"), col("lat_u"),
        boxMicroDeg = 2000000L),
      Some(graft.ops.Spatial.boxPairsOracleSql(37L, 2000000L))),

    // Radius search in METERS: grid candidates refined by the
    // bit-portable haversine — boundary pairs agree across engines
    // because both compute the identical IEEE double before the <=.
    GraftQuery("q_geo_radius_join",
      (s, dir) => graft.ops.Spatial.radiusPairs(
        ev(s, dir).filter(pmod(col("user_id"), lit(37)) === 0)
          .select(col("event_id"),
            round((pmod(col("user_id"), lit(3600)).cast("double") / 10 - 180)
              * 1e6, 0).cast("long").as("lon_u"),
            round((pmod(col("event_id"), lit(1700)).cast("double") / 10 - 85)
              * 1e6, 0).cast("long").as("lat_u")),
        col("event_id"), col("lon_u"), col("lat_u"),
        radiusMeters = 300000.0),
      Some(graft.ops.Spatial.radiusPairsOracleSql(37L, 300000.0)),
      headline = true),

    // The radius join COMPLETED across the ±180 dateline (two-frame
    // grid, candidates un-rotated before one shared refine) and the
    // polar caps (1-D latitude-band half-stencil — no longitude grid,
    // so pole- and seam-proof by construction). The fixture is a 12°
    // longitude strip STRADDLING ±180 with latitudes to ±85, so the
    // corpus gate populates all three pair classes (seam-crossing /
    // polar-cap / plain) at every SF — FixtureCoverageSpec pins the
    // class counts (a full-circle lon fixture gated zero seam pairs).
    GraftQuery("q_geo_radius_wrap",
      (s, dir) => {
        val lr = round((pmod(col("event_id"), lit(120)).cast("double") / 10
          + 174) * 1e6, 0).cast("long")
        graft.ops.Spatial.radiusPairsWrapped(
          ev(s, dir).filter(pmod(col("event_id"), lit(7)) === 0)
            .select(col("event_id"),
              when(lr >= 180000000L, lr - 360000000L).otherwise(lr).as("lon_u"),
              round((pmod(col("event_id") * 7, lit(1700)).cast("double") / 10
                - 85) * 1e6, 0).cast("long").as("lat_u")),
          col("event_id"), col("lon_u"), col("lat_u"),
          radiusMeters = 300000.0)
      },
      Some(graft.ops.Spatial.radiusPairsWrappedOracleSql(7L, 300000.0))),

    // geohashEncode over synthesized coordinates (precision 6).
    GraftQuery("q_geohash",
      (s, dir) => ev(s, dir).select(col("event_id"),
          (pmod(col("user_id"), lit(3600)).cast("double") / 10 - 180).as("lon"),
          (pmod(col("event_id"), lit(1700)).cast("double") / 10 - 85).as("lat"))
        .select(col("event_id"),
          graft.functions.GeoFunctions.geohashEncode(
            col("lon"), col("lat"), 6).as("gh6")),
      Some(graft.functions.GeoFunctions.geohashOracleSql)),

    // geohashEncode→Decode round-trip at precision 5: decode returns
    // the cell center via the shared single-source bit loop.
    GraftQuery("q_geohash_roundtrip",
      (s, dir) => {
        val coords = ev(s, dir).select(col("event_id"),
          (pmod(col("user_id"), lit(3600)).cast("double") / 10 - 180).as("lon"),
          (pmod(col("event_id"), lit(1700)).cast("double") / 10 - 85).as("lat"))
        coords.select(col("event_id"),
            graft.functions.GeoFunctions.geohashEncode(
              col("lon"), col("lat"), 5).as("gh"))
          .select(col("event_id"), col("gh"),
            graft.functions.GeoFunctions.geohashDecode(col("gh"), 5).as("c"))
          .select(col("event_id"), col("gh"),
            col("c.lon").as("lon_c"), col("c.lat").as("lat_c"))
      },
      Some(graft.functions.GeoFunctions.geohashRoundtripOracleSql)),

    // greatCircleDistance analog: haversine meters between two
    // event-synthesized points. No libm trig in either engine — the
    // shared-algebra polynomial renders the IDENTICAL IEEE op sequence
    // to Spark and DuckDB, so the raw doubles hash-match bit-for-bit
    // (see GeoFunctions' portability note).
    GraftQuery("q_geo_distance",
      (s, dir) => ev(s, dir).select(col("event_id"),
          (pmod(col("user_id"), lit(3600)).cast("double") / 10 - 180).as("lon1"),
          (pmod(col("event_id"), lit(1700)).cast("double") / 10 - 85).as("lat1"),
          (pmod(col("event_id") * 37, lit(3600)).cast("double") / 10 - 180).as("lon2"),
          (pmod(col("event_id") * 91, lit(1700)).cast("double") / 10 - 85).as("lat2"))
        .select(col("event_id"),
          graft.functions.GeoFunctions.greatCircleDistance(
            col("lon1"), col("lat1"), col("lon2"), col("lat2")).as("dist_m")),
      Some(graft.functions.GeoFunctions.geoDistanceOracleSql)),

    // IPv4 function family: num→string→num round-trip + /24 range
    // over a hash-derived address.
    GraftQuery("q_ipv4_funcs",
      (s, dir) => {
        val u = graft.functions.UrlFunctions
        ev(s, dir).select(col("event_id"),
            pmod(TextFunctions.md5Long(col("user_id").cast("string")),
              lit(4294967296L)).as("ip"))
          .select(col("event_id"), col("ip"),
            u.ipv4NumToString(col("ip")).as("ip_str"))
          .select(col("event_id"), col("ip"), col("ip_str"),
            u.ipv4StringToNum(col("ip_str")).as("round_trip"),
            u.ipv4CidrToRange(col("ip"), 24).getField("lo").as("net_lo"),
            u.ipv4CidrToRange(col("ip"), 24).getField("hi").as("net_hi"))
      },
      Some(graft.functions.UrlFunctions.ipv4FuncsOracleSql)),

    // ClickHouse URL-function family over a synthesized referrer URL.
    GraftQuery("q_url_funcs",
      (s, dir) => {
        val u = graft.functions.UrlFunctions
        ev(s, dir).select(col("event_id"),
          u.syntheticUrl(col("user_id"), col("event_type"),
            col("event_id")).as("url"))
          .select(col("event_id"),
            u.protocol(col("url")).as("proto"),
            u.domain(col("url")).as("dom"),
            u.topLevelDomain(col("url")).as("tld"),
            u.path(col("url")).as("path"),
            u.queryString(col("url")).as("qs"),
            u.extractURLParameter(col("url"), "q").as("q_param"),
            u.cutQueryString(col("url")).as("cut_qs"))
      },
      Some(graft.functions.UrlFunctions.urlFuncsOracleSql)),

    // table profile: per-column null/distinct/min/max/top-values
    // report over the documents drop.
    GraftQuery("q_profile",
      (s, dir) => graft.ops.Profile.columns(
        graft.Tables.documents(s, dir), Seq("lang", "source", "n_chars")),
      Some(graft.ops.Profile.documentsOracleSql)),

    // HLL register set-algebra: per-event-type audience sketches,
    // union by register max, inclusion-exclusion intersect estimate.
    GraftQuery("q_hll_overlap",
      (s, dir) => graft.ops.Sketches.hllSegmentOverlap(ev(s, dir),
        col("event_type"), col("user_id")),
      Some(graft.ops.Sketches.hllOverlapOracleSql(
        "event_type", "user_id", "events"))),

    // segmented Welch t: the GROUP BY cohort form of the A/B test.
    GraftQuery("q_welch_by_cohort",
      (s, dir) => graft.ops.Stats.welchTTestBy(
        ev(s, dir).filter(col("event_type").isin("click", "view")),
        col("user_id") % 3,
        col("event_type") === "click",
        round(col("value") * 1e6, 0).cast("long")),
      Some(graft.ops.Stats.welchTTestByOracleSql)),

    // HDR-grid quantile sketch (deterministic tdigest-class): bounded
    // mergeable state, grid-exact quantile lower bounds.
    // (named _hdr: q_quantile_sketch is the round-6 approx_percentile
    // rank-window probe — same shadowing hazard as q_histogram above)
    GraftQuery("q_quantile_sketch_hdr",
      (s, dir) => graft.ops.Sketches.sketchQuantiles(
        graft.ops.Sketches.quantileSketch(ev(s, dir),
          round(col("value") * 1e6, 0).cast("long")),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)),
      Some(graft.ops.Sketches.quantileSketchOracleSql(
        "CAST(round(value*1000000,0) AS BIGINT)", "events",
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)))),

    // ClickHouse `LIMIT n OFFSET m BY key` pagination: each user's
    // events ranked [1, 4) by engagement score — bounded-heap rank,
    // never a per-key window sort (the fifteenth-finding hazard).
    GraftQuery("q_limit_by",
      (s, dir) => graft.ops.LimitBy.limitBy(ev(s, dir),
          Seq("user_id"), score, col("event_id"), n = 3, offset = 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("pos")),
      Some(graft.ops.LimitBy.oracleSql(
        src = s"(SELECT user_id, event_id, event_type, $scoreSql AS sc FROM events) t",
        groupSql = Seq("user_id"), scoreSql = "sc", rowKeySql = "event_id",
        selectSql = "user_id, event_id, event_type", n = 3, offset = 1)),
      headline = true),

    // `LIMIT n WITH TIES` per user: top-3 events by a deliberately
    // COARSE score (floor(value/20) — ~17 buckets, dense ties) plus every row tying
    // the 3rd score, so groups legitimately return > n rows
    // (FixtureCoverageSpec pins that the ties actually extend). Same
    // bounded-heap-then-filter plan as q_limit_by — per-group raw
    // cardinality never reaches a sort.
    GraftQuery("q_limit_with_ties",
      (s, dir) => graft.ops.LimitBy.limitByWithTies(
          ev(s, dir).select(col("user_id"), col("event_id"),
            col("event_type"), floor(col("value") / 20).cast("long").as("sc")),
          Seq("user_id"), col("sc"), col("event_id"), n = 3)
        .select(col("user_id"), col("event_id"), col("event_type"), col("sc")),
      Some(graft.ops.LimitBy.withTiesOracleSql(
        src = "(SELECT user_id, event_id, event_type, CAST(floor(value/20) AS BIGINT) AS sc FROM events) t",
        groupSql = Seq("user_id"), scoreSql = "sc", rowKeySql = "event_id",
        selectSql = "r.user_id, r.event_id, r.event_type, r.sc", n = 3))),

    // ClickHouse `SAMPLE 1/8` clause: by-key consistent hash-domain
    // cut, then per-type raw + den/num-extrapolated counts (the doc'd
    // dashboard idiom — trade accuracy for an 8× scan cut).
    GraftQuery("q_sample_clause",
      (s, dir) => Selection.sampleByKey(ev(s, dir), col("user_id"), 1, 4)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_raw"),
          (count(lit(1)) * lit(4L)).as("n_scaled"),
          countDistinct(col("user_id")).as("n_users")),
      Some(s"""SELECT event_type, count(*) AS n_raw, CAST(count(*) * 4 AS BIGINT) AS n_scaled, count(DISTINCT user_id) AS n_users FROM events WHERE ${Selection.sampleByKeyOraclePred("user_id", 1, 4)} GROUP BY 1""")),

    // Theta-sketch set algebra (uniqThetaUnion/Intersect/Not): pairwise
    // audience overlap estimates across event types from the bottom-64
    // sketches alone — no second scan of the fact.
    GraftQuery("q_kmv_setops",
      (s, dir) => graft.ops.Sketches.kmvSetOps(ev(s, dir),
        col("event_type"), col("user_id"), k = 64),
      Some(graft.ops.Sketches.kmvSetOpsOracleSql(
        "event_type", "user_id", "events", k = 64))),

    // CUPED variance reduction: per-user pre/post split at the exact
    // integer midpoint of the event-time range, arm = user_id parity,
    // θ from pooled exact partials; adjusted mean + variance per arm.
    GraftQuery("q_cuped",
      (s, dir) => {
        val e = ev(s, dir)
        val mid = e.agg(expr(
          "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid"))
        graft.ops.Stats.cuped(e.crossJoin(broadcast(mid)),
          unit = col("user_id"), arm = pmod(col("user_id"), lit(2)),
          isPre = unix_micros(col("ts")) < col("mid"),
          v = round(col("value") * 1e6, 0).cast("long"))
      },
      Some(graft.ops.Stats.cupedOracleSql)),

    // CUPED composed into the A/B readout: raw Welch-style t next to
    // the variance-reduced t and the realized reduction ratio — the
    // experiment-calling workflow the Stats tier exists for.
    GraftQuery("q_cuped_welch",
      (s, dir) => {
        val e = ev(s, dir)
        val mid = e.agg(expr(
          "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("mid"))
        graft.ops.Stats.cupedWelch(e.crossJoin(broadcast(mid)),
          unit = col("user_id"), arm = pmod(col("user_id"), lit(2)),
          isPre = unix_micros(col("ts")) < col("mid"),
          v = round(col("value") * 1e6, 0).cast("long"))
      },
      Some(graft.ops.Stats.cupedWelchOracleSql)),

    // INCREMENTAL ANOVA F: per-group partials (n, Σv, Σv²) are
    // additive, so three simulated micro-batches land partial parts in
    // a SummingStore MV and the F readout runs over the merged
    // per-group row — same oracle as the one-shot q_anova, same
    // scalar path (anovaFromPartials) as the batch operator.
    GraftQuery("q_anova_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_anova")
        val mv = s"$tmpP/anovamv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.Stats.anovaPartials(
            e.filter(pmod(col("event_id"), lit(3)) === i),
            round(col("value") * 1e6, 0).cast("long"), col("event_type"))
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"anova-chunk$i"))
        }
        graft.ops.Stats.anovaFromPartials(
          graft.sinks.SummingStore.read(s, mv,
            keys = Seq("g"), addCols = Seq("ng", "s1g", "s2g")).get)
      },
      Some(graft.ops.Stats.anovaFOracleSql)),

    // pointInPolygon with a HOLE ring (the full ClickHouse signature):
    // outer concave dart minus an interior diamond — even-odd
    // crossings over both rings, still one codegen'd projection.
    GraftQuery("q_point_in_polygon_holes",
      (s, dir) => graft.ops.Spatial.pointInPolygonRings(
        ev(s, dir).select(col("event_id"),
          round((pmod(col("event_id") * 37, lit(3600)).cast("double") / 10
            - 180) * 1e6, 0).cast("long").as("lon_u"),
          round((pmod(col("event_id") * 91, lit(1700)).cast("double") / 10
            - 85) * 1e6, 0).cast("long").as("lat_u")),
        col("event_id"), col("lon_u"), col("lat_u"),
        Seq(Queries.dartPolygon, Queries.dartHole)),
      Some(graft.ops.Spatial.pointInPolygonRingsOracleSql(
        polygonPointsSql, Seq(Queries.dartPolygon, Queries.dartHole)))),

    // INCREMENTAL correlation matrix: the one-row (n, Σxᵢ, Σxᵢ²,
    // Σxᵢxⱼ) partial is additive, so three simulated micro-batches
    // land parts in a SummingStore MV and the pairwise-Pearson readout
    // runs over the re-summed row — same oracle as the one-shot
    // q_corr_matrix, same readout path (corrMatrixFromPartials).
    GraftQuery("q_corr_matrix_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_corr")
        val mv = s"$tmpP/corrmv"
        val colsSpec = Seq(
          "v" -> round(col("value") * 1e6, 0).cast("long"),
          "h" -> hour(col("ts")).cast("long"),
          "u" -> (col("user_id") % 100))
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.Stats.corrMatrixPartials(
            e.filter(pmod(col("event_id"), lit(3)) === i), colsSpec)
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"corr-chunk$i"))
        }
        graft.ops.Stats.corrMatrixFromPartials(
          graft.sinks.SummingStore.read(s, mv, keys = Seq("k"),
            addCols = graft.ops.Stats.corrMatrixAddCols(3)).get,
          colsSpec.map(_._1))
      },
      Some(graft.ops.Stats.corrMatrixOracleSql)),

    // INCREMENTAL KMV theta sketch: per-batch bottom-64 k-sets land as
    // SnapshotStore parts; merge-on-read re-sketches the exploded
    // k-sets (the k smallest of a union is a function of the k-sets
    // alone — exact, law-tested), so the MV-served distinct estimates
    // are bit-identical to the one-shot q_kmv_distinct, same oracle.
    GraftQuery("q_kmv_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_kmv")
        val mv = s"$tmpP/kmvmv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.Sketches.kmvSketchTable(
            e.filter(pmod(col("event_id"), lit(3)) === i),
            col("event_type"), col("event_id"), k = 64)
          graft.sinks.SnapshotStore.commitAppend(s, mv, part,
            tag = Some(s"kmv-chunk$i"))
        }
        graft.ops.Sketches.kmvDistinctFromSketches(
          graft.ops.Sketches.kmvMergeSketches(
            graft.sinks.SnapshotStore.read(s, mv).get, k = 64), k = 64)
      },
      Some(graft.ops.Sketches.kmvOracleSql("event_type", "event_id",
        "events", k = 64))),

    // ClickHouse `SAMPLE 1/4 OFFSET i/4`: four disjoint hash-domain
    // slices covering the key space exactly once between them — the
    // documented parallel-full-scan idiom (each worker takes one
    // slice). Slice sums must re-add to the full table; the gate
    // hashes all four per-slice (events, users) rows.
    GraftQuery("q_sample_offset",
      (s, dir) => {
        val e = ev(s, dir)
        (0 until 4).map { i =>
          Selection.sampleByKeyOffset(e, col("user_id"), 1, 4, i, 4)
            .agg(count(lit(1)).as("n_events"),
              countDistinct(col("user_id")).as("n_users"))
            .select(lit(i).as("slice"), col("n_events"), col("n_users"))
        }.reduce(_ unionByName _)
      },
      Some((0 until 4).map { i =>
        s"SELECT $i AS slice, count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM events WHERE ${
          Selection.sampleByKeyOffsetOraclePred("user_id", 1, 4, i, 4)}"
      }.mkString(" UNION ALL "))),

    // minSampleSizeContinous analog: per event type, the per-arm n to
    // detect a 5% change of the type's own mean µ-value at α=0.05 /
    // power 0.8 — the experiment-PLANNING half of the A/B tier.
    GraftQuery("q_min_sample_continuous",
      (s, dir) => graft.ops.Stats.minSampleSizeContinuous(ev(s, dir),
        col("event_type"), round(col("value") * 1e6, 0).cast("long"),
        mdeRelPct = 5),
      Some(graft.ops.Stats.minSampleSizeContinuousOracleSql)),

    // minSampleSizeConversion analog: conversion = µ-value above 1e6,
    // per-arm n to detect a 10% relative lift of each type's rate.
    GraftQuery("q_min_sample_conversion",
      (s, dir) => graft.ops.Stats.minSampleSizeConversion(ev(s, dir),
        col("event_type"),
        round(col("value") * 1e6, 0).cast("long") > 1000000L,
        upliftRelPct = 10),
      Some(graft.ops.Stats.minSampleSizeConversionOracleSql)),

    // quantileExactInclusive analog (type-7 interpolation, the
    // Excel/R default): exact rational ranks, bucketed two-phase
    // cumulative, one conditional-min probe pass.
    GraftQuery("q_quantile_interp",
      (s, dir) => graft.ops.TimeSeries.interpolatedQuantiles(ev(s, dir),
        round(col("value") * 1e6, 0).cast("long"),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)),
      Some(graft.ops.TimeSeries.interpolatedQuantilesOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)))),

    // quantileExactExclusive analog (type-6, clamped (n+1)p rank).
    GraftQuery("q_quantile_interp_excl",
      (s, dir) => graft.ops.TimeSeries.interpolatedQuantiles(ev(s, dir),
        round(col("value") * 1e6, 0).cast("long"),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), exclusive = true),
      Some(graft.ops.TimeSeries.interpolatedQuantilesOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100), exclusive = true))),

    // per-segment interpolated quantiles (quantileExactInclusive ...
    // GROUP BY event_type): keyed two-phase cumulative, hot keys stay
    // at bucket granularity.
    GraftQuery("q_quantile_interp_by",
      (s, dir) => graft.ops.TimeSeries.interpolatedQuantilesBy(ev(s, dir),
        col("event_type"), round(col("value") * 1e6, 0).cast("long"),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)),
      Some(graft.ops.TimeSeries.interpolatedQuantilesByOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100))),
      headline = true),

    // quantileExactWeightedInterpolated analog: type-7 over the
    // unit-expanded weighted multiset (weight = 1 + user_id % 9, the
    // q_weighted_quantile fixture) — interpolated companion to the
    // type-1 q_weighted_quantile.
    GraftQuery("q_quantile_interp_weighted",
      (s, dir) => graft.ops.TimeSeries.interpolatedQuantilesWeighted(
        ev(s, dir), round(col("value") * 1e6, 0).cast("long"),
        lit(1L) + pmod(col("user_id"), lit(9L)),
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16)),
      Some(graft.ops.TimeSeries.interpolatedQuantilesWeightedOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16)))),

    // INCREMENTAL interpolated quantiles: the SAME additive (v, Σw)
    // SummingStore MV as q_weighted_quantile_inc, read through the
    // interpolated (type-7) readout — one MV serves both quantile
    // conventions.
    GraftQuery("q_quantile_interp_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_wqi")
        val mv = s"$tmpP/wqimv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = e.filter(pmod(col("event_id"), lit(3)) === i)
            .groupBy(round(col("value") * 1e6, 0).cast("long").as("v"))
            .agg(sum(lit(1L) + pmod(col("user_id"), lit(9L))).as("w"))
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"wqi-chunk$i"))
        }
        graft.ops.TimeSeries.interpolatedQuantilesFromWeights(
          graft.sinks.SummingStore.read(s, mv, Seq("v"), Seq("w")).get,
          Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16))
      },
      Some(graft.ops.TimeSeries.interpolatedQuantilesWeightedOracleSql(
        Seq(1 -> 4, 1 -> 2, 3 -> 4, 15 -> 16)))),

    // quantileTDigest analog, BATCH: order-free two-layer sketch
    // (signed log-linear grid histogram -> fixed k0 compression to
    // <= 64 integer centroids) with midpoint-interpolated readout.
    // The fixture centers the value at 0 so BOTH sign branches of the
    // grid carry weight (FixtureCoverageSpec pins the classes); weight
    // = 1 + user_id % 9 (the weighted-quantile fixture). The oracle
    // replays grid, compression, and interpolation bit-for-bit.
    GraftQuery("q_quantile_tdigest",
      (s, dir) => graft.ops.TDigest.quantileTDigest(
        ev(s, dir), round((col("value") - 0.5) * 1e3, 0).cast("long"),
        Seq(1 -> 100, 1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100),
        w = lit(1L) + pmod(col("user_id"), lit(9L))),
      Some(graft.ops.TDigest.oracleSql(
        "round((value - 0.5)*1000, 0)", "1 + user_id % 9", "events",
        Seq(1 -> 100, 1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)))),

    // quantileTDigest analog, MV-SERVED: the grid histogram is an
    // additive (idx, w) SummingStore view — three disjoint chunks land
    // as parts, merge-on-read re-sums, and the digest+readout run on
    // the sketch-sized merged state. Because the grid is fixed and the
    // state additive, the chunked build is BIT-IDENTICAL to the batch
    // one — the same full-data oracle gates it, which is exactly the
    // merge-invariance claim under test. This is the refresh-cost fix
    // over the exact quantile MVs: a refresh re-sums <= 29k counters,
    // never the per-distinct-value table.
    GraftQuery("q_quantile_tdigest_inc",
      (s, dir) => {
        val tmpP = scratchDir("graft_tdig")
        val mv = s"$tmpP/tdigmv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.TDigest.sketch(
            e.filter(pmod(col("event_id"), lit(3)) === i),
            round((col("value") - 0.5) * 1e3, 0).cast("long"),
            lit(1L) + pmod(col("user_id"), lit(9L)))
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"tdig-chunk$i"))
        }
        graft.ops.TDigest.quantiles(
          graft.ops.TDigest.digest(
            graft.sinks.SummingStore.read(s, mv, Seq("idx"), Seq("w")).get),
          Seq(1 -> 100, 1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100))
      },
      Some(graft.ops.TDigest.oracleSql(
        "round((value - 0.5)*1000, 0)", "1 + user_id % 9", "events",
        Seq(1 -> 100, 1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)))),

    // GROUPED t-digest, MV-SERVED end-to-end (`quantileTDigest(v) ...
    // GROUP BY segment`, the per-segment dashboard form): three chunks
    // land per-(key, grid-idx) histogram parts in a SummingStore, the
    // merged state digests per key (windows per key, per-key totals
    // joined corpus-side — |keys| never broadcasts), and the readout
    // probes every (key, q). One query proves the grouped path AND its
    // incremental maintenance against the full-data oracle.
    GraftQuery("q_quantile_tdigest_by",
      (s, dir) => {
        val tmpP = scratchDir("graft_tdigby")
        val mv = s"$tmpP/tdigbymv"
        val e = ev(s, dir)
        (0 until 3).foreach { i =>
          val part = graft.ops.TDigest.sketchBy(
            e.filter(pmod(col("event_id"), lit(3)) === i),
            col("event_type"),
            round((col("value") - 0.5) * 1e3, 0).cast("long"),
            lit(1L) + pmod(col("user_id"), lit(9L)))
          graft.sinks.SummingStore.appendDelta(part, mv,
            tag = Some(s"tdigby-chunk$i"))
        }
        graft.ops.TDigest.quantilesBy(
          graft.ops.TDigest.digestBy(
            graft.sinks.SummingStore.read(s, mv, Seq("k", "idx"), Seq("w")).get),
          Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100))
      },
      Some(graft.ops.TDigest.oracleByKeySql(
        "event_type", "round((value - 0.5)*1000, 0)", "1 + user_id % 9",
        "events", Seq(1 -> 4, 1 -> 2, 3 -> 4, 99 -> 100)))),

    // ClickHouse hierarchical dictionary (dictGetHierarchy + dictIsIn):
    // a parent-keyed category tree (id // 4, depth 5 over 340 ids —
    // bounded by the modulus, a model-sized dictionary) resolved to
    // self→root chains by bounded-depth iterative self-broadcast; the
    // fact side never shuffles past its own rollup. Oracle resolves the
    // same tree with a recursive CTE.
    GraftQuery("q_dict_hierarchy",
      (s, dir) => {
        val facts = ev(s, dir)
          .select((pmod(col("event_id"), lit(340)) + 1).cast("long").as("cat_id"))
        val dim = facts.select(col("cat_id").as("id")).distinct()
          .select(col("id"),
            ((col("id") - pmod(col("id"), lit(4))) / 4).cast("long").as("parent"))
        val hier = graft.ops.Dict.hierarchy(dim, col("id"), col("parent"),
          maxDepth = 8)
        facts.groupBy(col("cat_id")).agg(count(lit(1)).as("n_events"))
          .join(broadcast(hier), col("cat_id") === col("id"))
          .select(col("cat_id"), col("n_events"), col("root_id"), col("depth"),
            concat_ws("/", transform(col("path"), _.cast("string"))).as("path_str"),
            graft.ops.Dict.dictIsIn(col("path"), 5L).as("in_anc5"))
      },
      Some(s"""WITH RECURSIVE facts AS (SELECT event_id % 340 + 1 AS cat_id FROM events),
${graft.ops.Dict.hierarchyOracleCtes(
        "SELECT DISTINCT cat_id AS id, cat_id // 4 AS parent FROM facts",
        maxDepth = 8)},
agg AS (SELECT cat_id, CAST(count(*) AS BIGINT) AS n_events FROM facts GROUP BY cat_id)
SELECT a.cat_id, a.n_events, h.root_id, h.depth, h.path_str, list_contains(h.pl, 5) AS in_anc5
FROM agg a JOIN hier h ON a.cat_id = h.id""")),

    // dictGetOrDefault: flat broadcast attribute lookup with a default
    // on missing keys — the dictionary covers ids ≤ 300, so categories
    // 301..340 exercise the default path for real.
    GraftQuery("q_dict_get",
      (s, dir) => {
        val facts = ev(s, dir)
          .select((pmod(col("event_id"), lit(340)) + 1).cast("long").as("cat_id"))
        val dimNamed = facts.select(col("cat_id").as("id")).distinct()
          .filter(col("id") <= 300)
          .select(col("id"), concat(lit("cat-"), col("id").cast("string")).as("name"))
        graft.ops.Dict.dictGetOrDefault(
          facts.groupBy(col("cat_id")).agg(count(lit(1)).as("n_events")),
          col("cat_id"), dimNamed, col("id"), col("name"),
          "cat_name", lit("unknown"))
          .select(col("cat_id"), col("cat_name"), col("n_events"))
      },
      Some("""WITH facts AS (SELECT event_id % 340 + 1 AS cat_id FROM events),
agg AS (SELECT cat_id, CAST(count(*) AS BIGINT) AS n_events FROM facts GROUP BY cat_id),
dimn AS (SELECT DISTINCT cat_id AS id, 'cat-' || CAST(cat_id AS VARCHAR) AS name FROM facts WHERE cat_id <= 300)
SELECT a.cat_id, coalesce(d.name, 'unknown') AS cat_name, a.n_events FROM agg a LEFT JOIN dimn d ON a.cat_id = d.id""")),

    // dictGetChildren + dictGetDescendants (counted): the inverse edge
    // direction — children from one dictionary-sized groupBy,
    // whole-subtree descendant counts by INVERTING the ancestor-chain
    // closure (D descends from A iff A is in D's path at depth >= 1),
    // so no second iteration exists to get wrong. Oracle recurses the
    // same tree.
    GraftQuery("q_dict_descendants",
      (s, dir) => {
        val facts = ev(s, dir)
          .select((pmod(col("event_id"), lit(340)) + 1).cast("long").as("cat_id"))
        val dim = facts.select(col("cat_id").as("id")).distinct()
          .select(col("id"),
            ((col("id") - pmod(col("id"), lit(4))) / 4).cast("long").as("parent"))
        val hier = graft.ops.Dict.hierarchy(dim, col("id"), col("parent"),
          maxDepth = 8)
        graft.ops.Dict.dictGetChildren(dim, col("id"), col("parent"))
          .join(graft.ops.Dict.descendantCounts(hier), Seq("id"))
          .select(col("id").as("cat_id"),
            size(col("children")).cast("long").as("n_children"),
            concat_ws("/", transform(col("children"), _.cast("string")))
              .as("children_str"),
            col("n_desc"))
      },
      Some(s"""WITH RECURSIVE facts AS (SELECT event_id % 340 + 1 AS cat_id FROM events),
${graft.ops.Dict.hierarchyOracleCtes(
        "SELECT DISTINCT cat_id AS id, cat_id // 4 AS parent FROM facts",
        maxDepth = 8)},
ch AS (SELECT parent AS id, CAST(count(*) AS BIGINT) AS n_children, string_agg(CAST(id AS VARCHAR), '/' ORDER BY id ASC) AS children_str FROM dim WHERE parent >= 1 GROUP BY parent),
dc AS (SELECT node AS id, CAST(count(*) AS BIGINT) AS n_desc FROM chain WHERE depth >= 1 GROUP BY node)
SELECT d.id AS cat_id, CAST(coalesce(ch.n_children, 0) AS BIGINT) AS n_children, coalesce(ch.children_str, '') AS children_str, CAST(coalesce(dc.n_desc, 0) AS BIGINT) AS n_desc
FROM dim d LEFT JOIN ch ON d.id = ch.id LEFT JOIN dc ON d.id = dc.id""")),

    // ClickHouse range_hashed dictionary (dictGetOrDefault with an
    // effective-date range key — the slowly-changing-dim as-of lookup;
    // the reference's content dim IS this shape when versioned). Each
    // category carries three versioned name ranges: v1 opens 3 days
    // before v0 closes (overlap -> max-start wins), a 3-day gap
    // precedes v2, and v2 closes mid-corpus (gap + tail + pre-open
    // probes all hit the default). The ARGMAX lives in the dictionary
    // (breakpoint decomposition into disjoint segments, dict-sized);
    // the fact side is ONE broadcast left join — PlanSpec asserts it
    // never shuffles. Oracle specs the DIRECT as-of semantics, not the
    // decomposition.
    GraftQuery("q_dict_range",
      (s, dir) => {
        val facts = ev(s, dir).select(col("event_id"),
          (pmod(col("event_id"), lit(50)) + 1).cast("long").as("cat_id"),
          datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("d"))
        val dim = facts.select(col("cat_id").as("k")).distinct()
          .select(col("k"), explode(array(lit(0), lit(1), lit(2))).as("ver"))
          .withColumn("rs", lit(19720L) + pmod(col("k"), lit(5)) +
            when(col("ver") === 2, 20).otherwise(col("ver") * 7))
          .withColumn("re", col("rs") +
            when(col("ver") === 2, 5).otherwise(9))
          .withColumn("nm", concat(lit("v"), col("ver").cast("string"),
            lit("-"), col("k").cast("string")))
        val segs = graft.ops.Dict.rangeSegments(dim, col("k"), col("rs"),
          col("re"), col("nm"))
        graft.ops.Dict.dictGetRange(facts, col("cat_id"), col("d"),
            segs, "rv", lit("none"))
          .select(col("event_id").as("fid"), col("rv"))
      },
      Some(graft.ops.Dict.dictGetRangeOracleSql(
        factsSql = "SELECT event_id AS fid, event_id % 50 + 1 AS fk, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS fd FROM events",
        dimSql = """SELECT k AS rk, rs, rs + CASE WHEN ver = 2 THEN 5 ELSE 9 END AS re, 'v' || ver || '-' || k AS rv
 FROM (SELECT k, ver, 19720 + k % 5 + CASE WHEN ver = 2 THEN 20 ELSE ver * 7 END AS rs
       FROM (SELECT DISTINCT event_id % 50 + 1 AS k FROM events), (VALUES (0), (1), (2)) v(ver))""",
        defaultSql = "'none'"))),

    // PROJECTION routing, oracle-gated and live (the ClickHouse
    // PROJECTION idiom, MvRouting's layout sibling): a selective 2-D
    // box Filter against the FACT path rewrites onto the z-ordered
    // SnapshotStore copy, opening only the files whose recorded
    // min/max stats intersect the box. The runner REQUIRES the routed
    // plan to scan the projection (not the fact) AND the opened-file
    // fraction to hold the zorder_box rung's <= 35% bound — a routing
    // or clustering regression fails the gate. Oracle replays the box
    // filter over the raw events.
    GraftQuery("q_projection_routed",
      (s, dir) => {
        val tmpP = scratchDir("graft_proj")
        val factPath = s"$tmpP/fact"
        val projBase = s"$tmpP/proj"
        // dense independent-ish axes from event_id (user_id's domain is
        // too sparse at sf0.001 to populate a selective box)
        val d = ev(s, dir).select(col("event_id").as("id"),
          pmod(col("event_id"), lit(1000)).cast("long").as("x"),
          pmod(col("event_id") * lit(31L), lit(1000)).cast("long").as("y"))
        d.write.mode("overwrite").parquet(factPath)
        graft.sinks.ZOrder.commitReplaceZOrdered(s, projBase,
          s.read.parquet(factPath), zCols = Seq("x", "y"), numFiles = 32)
        val rule = graft.plans.ProjectionRouting(s, factPath, projBase,
          zCols = Seq("x", "y"))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ rule
        try {
          val routed = s.read.parquet(factPath)
            .filter(col("x") >= 100L && col("x") <= 150L &&
              col("y") >= 200L && col("y") <= 260L)
            .select(col("id"), col("x"), col("y"))
          val phys = routed.queryExecution.executedPlan.toString()
          require(phys.contains(projBase) && !phys.contains(factPath),
            "q_projection_routed did not route onto the projection")
          val frac = graft.sinks.ZOrder.filesOpenedFraction(s, projBase,
            Seq(("x", 100.0, 150.0), ("y", 200.0, 260.0)))
          require(frac <= 0.35,
            f"projection box opened $frac%.2f of files (> 0.35 bound)")
          routed.localCheckpoint()
        } finally {
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations.filterNot(_ == rule)
        }
      },
      Some("""SELECT event_id AS id, event_id % 1000 AS x, (event_id * 31) % 1000 AS y FROM events WHERE event_id % 1000 BETWEEN 100 AND 150 AND (event_id * 31) % 1000 BETWEEN 200 AND 260""")),

    // The STREAMING training-data flagship: the corpus arrives in three
    // id-monotone micro-batches through CorpusIngest.pipelineBatch
    // (Gopher gate → quality gate + exact dedup vs the store → near-dup
    // eviction vs the persisted MinHash band index → exactly-once seen/
    // eviction landing + SummingStore monitor), then the serve-time
    // readout (seen ∖ evictions) feeds sequence packing. One DuckDB
    // BATCH oracle replays the whole flow — the streaming decomposition
    // must be invisible in the result. Side-effecting scratch stores:
    // never headline.
    GraftQuery("q_training_pipeline_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_tps")
        val (base, idx, pairs, mv) = (s"$tmpPath/corpus", s"$tmpPath/idx",
          s"$tmpPath/pairs", s"$tmpPath/mv")
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.CorpusIngest.pipelineBatch(s, base, idx, pairs,
              mv, d.filter(col("doc_id") >= lo && col("doc_id") < hi), i.toLong)
          }
        val served = graft.streaming.CorpusIngest.servedCorpus(s, base, pairs)
        Corpus.concatChunk(served, col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long"),
          seqLen = 512, bucketSize = 100)
      },
      Some(trainingStreamOracle(
        s"""drops AS (SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= ${graft.dedup.MinHash.Config().threshold}),
kept AS (SELECT doc_id, text FROM exact_keep WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
t AS (SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok FROM kept),
c AS (SELECT doc_id, n_tok, CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM t)
SELECT doc_id, n_tok, start_tok, CAST(floor(start_tok / 512.0) AS BIGINT) AS first_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) AS last_seq, CAST(floor((start_tok + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) - CAST(floor(start_tok / 512.0) AS BIGINT) + 1 AS n_seqs FROM c"""))),

    // The DISTRIBUTION monitor of the same streaming pipeline: each
    // batch lands its fresh docs' token-length t-digest GRID deltas in
    // a second SummingStore, and the dashboard digests the merged
    // state for length-drift quantiles (p1/p50/p99) — sketch-sized
    // refresh, never a corpus rescan. The grid's order-invariance
    // makes the 3-batch streamed build bit-equal to the one-shot
    // batch, so the SAME batch-replay oracle gates it (the tdigest
    // oracle body appended after the pipeline-replay CTEs).
    GraftQuery("q_training_monitor_quantiles",
      (s, dir) => {
        val tmpPath = scratchDir("graft_tpq")
        val (base, idx, pairs, mv, lenMv) = (s"$tmpPath/corpus",
          s"$tmpPath/idx", s"$tmpPath/pairs", s"$tmpPath/mv",
          s"$tmpPath/lenmv")
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.CorpusIngest.pipelineBatch(s, base, idx, pairs,
              mv, d.filter(col("doc_id") >= lo && col("doc_id") < hi),
              i.toLong, lenMvBase = Some(lenMv))
          }
        graft.ops.TDigest.quantiles(
          graft.ops.TDigest.digest(
            graft.sinks.SummingStore.read(s, lenMv, Seq("idx"), Seq("w")).get),
          Seq(1 -> 100, 1 -> 2, 99 -> 100))
      },
      Some(trainingStreamOracle(graft.ops.TDigest.oracleBodySql(
        raw"len(regexp_split_to_array(trim(text), '\s+'))", "1",
        "exact_keep", Seq(1 -> 100, 1 -> 2, 99 -> 100), p = "td")))),

    // The MV-served MONITORING tier of the same streaming pipeline:
    // per-batch additive counters (docs in, Gopher+quality gated,
    // exact-new, near-dup evictions, landed tokens) from the
    // SummingStore the pipeline maintains — gated against the batch
    // replay assigning each doc/eviction to its arrival batch.
    GraftQuery("q_training_monitor_stream",
      (s, dir) => {
        val tmpPath = scratchDir("graft_tpm")
        val (base, idx, pairs, mv) = (s"$tmpPath/corpus", s"$tmpPath/idx",
          s"$tmpPath/pairs", s"$tmpPath/mv")
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            graft.streaming.CorpusIngest.pipelineBatch(s, base, idx, pairs,
              mv, d.filter(col("doc_id") >= lo && col("doc_id") < hi), i.toLong)
          }
        graft.sinks.SummingStore.read(s, mv, Seq("batch_id"),
          Seq("n_in", "n_gated", "n_fresh", "n_evicted", "tok_fresh")).get
      },
      Some {
        val b = (c: String) =>
          s"CASE WHEN $c < 170 THEN 0 WHEN $c < 340 THEN 1 ELSE 2 END"
        trainingStreamOracle(
          raw"""m1 AS (SELECT ${b("doc_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_in FROM documents GROUP BY 1),
m2 AS (SELECT ${b("doc_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_gated FROM gated GROUP BY 1),
m3 AS (SELECT ${b("doc_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_fresh, CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tok_fresh FROM exact_keep GROUP BY 1),
m4 AS (SELECT ${b("doc_b")} AS batch_id, CAST(count(*) AS BIGINT) AS n_evicted FROM verified WHERE jaccard >= ${graft.dedup.MinHash.Config().threshold} GROUP BY 1)
SELECT m1.batch_id, m1.n_in, CAST(coalesce(m2.n_gated, 0) AS BIGINT) AS n_gated, CAST(coalesce(m3.n_fresh, 0) AS BIGINT) AS n_fresh, CAST(coalesce(m4.n_evicted, 0) AS BIGINT) AS n_evicted, CAST(coalesce(m3.tok_fresh, 0) AS BIGINT) AS tok_fresh
FROM m1 LEFT JOIN m2 USING (batch_id) LEFT JOIN m3 USING (batch_id) LEFT JOIN m4 USING (batch_id)""")
      })
  )

  /** Shared oracle skeleton of the q_training_*_stream pair: the BATCH
    * replay of the streaming pipeline's gate + exact-dedup + near-dup
    * stages (CTEs gated, exact_keep, then MinHash's chain ending in
    * `verified`), with the query-specific tail CTEs + SELECT appended.
    * Valid because arrival is id-monotone (the stream contract the
    * registered queries honor), so "first landed" = min doc_id. */
  private def trainingStreamOracle(tail: String): String = {
    val pre =
      raw"""${TextFunctions.gopherSignalsOracleCtes("documents", "gp")},
gated AS (SELECT d.doc_id, d.text FROM documents d JOIN gpgsig g USING (doc_id) WHERE g.passes AND $qualitySqlExpr >= 0.2),
exact_keep AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER (PARTITION BY substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) ORDER BY doc_id ASC) AS rn FROM gated) WHERE rn = 1)"""
    s"""${graft.dedup.MinHash.oracleCtes(src = "exact_keep", pre = pre)},
$tail"""
  }

  // A duplicate name silently shadows the earlier query once the Seq
  // collapses to the runners/oracles maps — the shadowed entry drops
  // out of the correctness gate with no error (it happened: round 9's
  // q_histogram/q_quantile_sketch overwrote the round-2/6 entries).
  require(all.map(_.name).distinct.size == all.size,
    "duplicate query names: " + all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }.mkString(", "))

  def runners: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  def headlines: Seq[GraftQuery] = all.filter(_.headline)
}
