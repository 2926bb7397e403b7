package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.functions.TextFunctions

/** Conversation / SFT data operators — the multi-turn-chat modality a
  * training-data platform curates alongside plain documents. Raw
  * conversations arrive as a JSON array payload per row (the
  * reference's `raw_payload` JSONB column, `sql/init.sql:24`, is the
  * wire shape modeled here); the operators are:
  *
  *  1. [[flatten]] — parse the payload into one row per turn with
  *     (conv_id, turn_idx, role, content, n_turns), ordering given by
  *     ARRAY POSITION (the only deterministic turn order a JSON array
  *     carries). Pure per-row projection: the JSON parse
  *     (`from_json`, interpreted — JSON decode is not codegen-able)
  *     fans out via `posexplode`; no shuffle at any scale.
  *  2. [[dedupExact]] — conversation-level exact dedup over the
  *     ROLE-NORMALIZED transcript ([[convText]]): per-conv md5 key,
  *     min-conv_id canonicalization. Two map-side-combined hash
  *     aggregates; the per-conv turn sort is bounded by the turn
  *     count, never corpus-sized.
  *  3. [[nearDupPairs]] — conversation-level NEAR dedup: the same
  *     normalized transcript fed through [[graft.dedup.MinHash]]'s
  *     banded LSH path unchanged (signatures → capped band join →
  *     exact-Jaccard verify). No new join shape: the conversation
  *     pass inherits the skew cap, the merge-hint pins, and the
  *     100 TB posture of the document pass.
  *  4. [[gate]] — per-turn gating aggregated to a conversation-level
  *     VERDICT: STRUCTURAL fails (token length / quality score) earn
  *     `keep` (none), `drop_turns` (failing minority — strip the
  *     turns, keep the conversation), or `drop_conv` (failing half or
  *     more, or any failing SYSTEM turn — the instruction frame
  *     itself is compromised); redactable PII is COUNTED (n_pii) but
  *     never drops a turn — [[clean]] redacts it in place instead of
  *     discarding training signal. One hash aggregate over turns.
  *  5. [[templates]] — system-prompt fingerprint grouping (the
  *     boilerplate analog at conversation scope): md5-fingerprint of
  *     the NORMALIZED system turn, so whitespace/case variants of one
  *     template collapse to one group. Filter + one hash aggregate.
  *
  * Test carrier: the synthetic corpus has no conversation table, so
  * [[fixture]] derives one deterministically from `documents` — the
  * payload JSON is BUILT here and PARSED by [[flatten]], which makes
  * the encode→decode round-trip itself gated: the DuckDB oracles
  * replay the pre-payload turn relation directly (an independent
  * spec, never a JSON re-parse), so any engine-side JSON bug breaks
  * the hash gate.
  */
object Conversations {

  // ------------------------------------------------------------ flatten

  /** JSON wire schema of one payload: an array of {role, content}. */
  val turnSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("role", StringType), StructField("content", StringType))))

  /** One row per turn from a (id, payload-JSON) relation. Turn order =
    * array position. Output: conv_id, turn_idx, role, content,
    * n_turns. */
  def flatten(conv: DataFrame, id: Column, payload: Column): DataFrame =
    conv.select(id.cast("long").as("conv_id"),
        from_json(payload, turnSchema).as("turns"))
      .withColumn("n_turns", size(col("turns")).cast("long"))
      .select(col("conv_id"), col("n_turns"),
        posexplode(col("turns")).as(Seq("ti", "t")))
      .select(col("conv_id"), col("ti").cast("long").as("turn_idx"),
        col("t.role").as("role"), col("t.content").as("content"),
        col("n_turns"))

  // ------------------------------------- normalized transcript + dedup

  /** Role-normalized transcript per conversation: turns sorted by
    * index, each rendered `role: normText(content)`, space-joined —
    * the canonical string conversation-level dedup keys on (case and
    * whitespace variants of the same exchange collapse; different
    * role assignments do NOT). The in-group sort is turn-bounded. */
  def convText(turns: DataFrame): DataFrame =
    turns.groupBy(col("conv_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"),
          concat(col("role"), lit(": "),
            TextFunctions.normText(col("content"))).as("t")))),
        x => x.getField("t")), " ").as("text"))

  /** Exact conversation dedup: md5 over [[convText]], canonical =
    * min conv_id per key. Output: conv_id, canon_id, is_dup. */
  def dedupExact(turns: DataFrame): DataFrame = {
    val keyed = convText(turns).select(col("conv_id"), md5(col("text")).as("k"))
    val canon = keyed.groupBy(col("k")).agg(min(col("conv_id")).as("canon_id"))
    keyed.join(Joins.corpusSide(canon), Seq("k"))
      .select(col("conv_id"), col("canon_id"),
        (col("conv_id") =!= col("canon_id")).as("is_dup"))
  }

  /** Near-duplicate conversation pairs: [[convText]] through the
    * MinHash banded path verbatim. Output: conv_a, conv_b, jaccard. */
  def nearDupPairs(turns: DataFrame,
      cfg: graft.dedup.MinHash.Config = graft.dedup.MinHash.Config()): DataFrame =
    graft.dedup.MinHash.verifiedPairs(convText(turns), col("conv_id"),
        col("text"), cfg)
      .select(col("doc_a").as("conv_a"), col("doc_b").as("conv_b"),
        col("jaccard"))

  // --------------------------------------------------------------- gate

  /** Quality floor a turn must clear (see [[TextFunctions.qualityScore]],
    * floor-rounded at 4 decimals on both engines). */
  val QualityFloor = 0.2
  /** Minimum whitespace tokens per turn. */
  val MinTurnTokens = 3

  /** Per-turn STRUCTURAL fail predicate: under-length or
    * under-quality — damage no transform repairs, so the turn (or the
    * conversation) drops. PII is deliberately NOT a fail: it is
    * FIXABLE, so [[gate]] counts it ([[piiHit]]) and [[clean]]
    * redacts it in place — dropping a turn over a redactable email
    * would throw away training signal. Codegen'd Column exprs. */
  private[ops] def turnFails(content: Column): Column =
    TextFunctions.tokenCount(content) < MinTurnTokens ||
      TextFunctions.qualityScore(content) < QualityFloor

  /** Redactable-PII signal (email/phone/IPv4 — exactly what
    * [[TextFunctions.redactPii]] rewrites). */
  private[ops] def piiHit(content: Column): Column =
    content.rlike(TextFunctions.EmailRe) ||
      content.rlike(TextFunctions.PhoneRe) ||
      content.rlike(TextFunctions.Ipv4Re)

  /** Conversation-level verdict from per-turn gates. Rules:
    *  - any failing turn with role `system` → `drop_conv` (a poisoned
    *    instruction frame invalidates every turn under it);
    *  - 2·n_fail ≥ n_turns → `drop_conv` (majority-or-half damaged);
    *  - any other failing turn → `drop_turns` (strip-and-keep);
    *  - otherwise `keep`.
    * n_kept = surviving turns under the verdict. One hash aggregate. */
  def gate(turns: DataFrame): DataFrame = {
    val f = turnFails(col("content"))
    val agg = turns.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(when(f, 1L).otherwise(0L)).as("n_fail"),
      sum(when(piiHit(col("content")), 1L).otherwise(0L)).as("n_pii"),
      max(when(f && col("role") === "system", 1L).otherwise(0L)).as("sys_fail"))
    agg.select(col("conv_id"), col("n_turns"), col("n_fail"), col("n_pii"),
        when(col("n_fail") === 0, "keep")
          .when(col("sys_fail") === 1 ||
            lit(2L) * col("n_fail") >= col("n_turns"), "drop_conv")
          .otherwise("drop_turns").as("verdict"))
      .withColumn("n_kept",
        when(col("verdict") === "drop_conv", 0L)
          .otherwise(col("n_turns") - col("n_fail")))
  }

  /** APPLY the [[gate]] verdicts — the step that turns judgments into
    * training data: `drop_conv` conversations vanish, `drop_turns`
    * conversations lose exactly their failing turns, survivors keep
    * everything; retained content is PII-REDACTED
    * ([[TextFunctions.redactPii]] — planted contacts become tokens)
    * and turns re-index densely (row_number per conversation over the
    * original order — a turn-bounded sort) so downstream consumers
    * see a gap-free transcript. Output: (conv_id, turn_idx, role,
    * content, orig_turn_idx).
    *
    * r15 (guide §2.4): previously verdicts came from a [[gate]]
    * aggregate joined back onto the turns — which computed the
    * (fixture-derived) turn relation TWICE and paid a corpus-side
    * shuffle join. The verdict counters are conversation-scoped, so
    * they fall out of window functions over the SAME conv_id
    * partitioning the dense re-index window already establishes: one
    * build of the turn relation, one exchange, no join. Group size is
    * turns-per-conversation — exactly the bound the re-index window
    * has always accepted. Formulas are [[gate]]'s verbatim, so the
    * verdict per row equals the joined verdict and every downstream
    * oracle (clean/render/pack/ingest) is unchanged. */
  def clean(turns: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("conv_id"))
    val f = turnFails(col("content"))
    val annotated = turns
      .withColumn("__n_turns", count(lit(1)).over(w))
      .withColumn("__n_fail", sum(when(f, 1L).otherwise(0L)).over(w))
      .withColumn("__sys_fail",
        max(when(f && col("role") === "system", 1L).otherwise(0L)).over(w))
    val verdict =
      when(col("__n_fail") === 0, "keep")
        .when(col("__sys_fail") === 1 ||
          lit(2L) * col("__n_fail") >= col("__n_turns"), "drop_conv")
        .otherwise("drop_turns")
    val kept = annotated.withColumn("__v", verdict)
      .filter(col("__v") === "keep" || (col("__v") === "drop_turns" && !f))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    kept.withColumn("new_idx", row_number().over(w2) - 1)
      .select(col("conv_id"), col("new_idx").cast("long").as("turn_idx"),
        col("role"), TextFunctions.redactPii(col("content")).as("content"),
        col("turn_idx").as("orig_turn_idx"))
  }

  // ------------------------------------------------- decontamination

  /** Conversation-scope benchmark decontamination — eval prompts leak
    * into SFT data as TURNS, not documents, so the document-scope
    * [[Decontaminate.overlap]] can't see them: each turn's distinct
    * word n-grams join the broadcast eval-gram set (benchmarks are
    * small by construction — the one broadcast); a turn is
    * contaminated at ≥ minHits shared grams, and the verdict
    * aggregates to CONVERSATION level with role awareness:
    *
    *  - a contaminated ASSISTANT turn → `drop_conv` (the model would
    *    be trained to EMIT benchmark answers — no salvage);
    *  - contaminated system/user turns only → `drop_turns` (leaked
    *    context: strip the turns, the responses keep training value);
    *  - otherwise `keep`.
    *
    * Scale shape inherited from the document pass: eval grams build in
    * one tiny aggregate and broadcast; the corpus-side explode joins
    * map-side and only MATCHING grams shuffle (per-turn hit counts);
    * the verdict is two hash aggregates (turn sizes, per-conv hits)
    * plus a conv-keyed join whose hit side holds only CONTAMINATED
    * conversations — a sliver of the corpus by the benchmark-size
    * contract. Output: (conv_id, n_turns, n_hit_turns, asst_hit,
    * verdict). */
  def decontaminate(turns: DataFrame, eval: DataFrame, evalText: Column,
      n: Int = 5, minHits: Int = 1): DataFrame = {
    require(n >= 1 && minHits >= 1)
    val evalGrams = eval
      .select(explode(TextFunctions.shingles(evalText, n)).as("gram"))
      .distinct()
    val turnGrams = turns.select(col("conv_id"), col("turn_idx"),
      col("role"), explode(TextFunctions.shingles(col("content"), n)).as("gram"))
    val hitTurns = turnGrams.join(broadcast(evalGrams), "gram")
      .groupBy(col("conv_id"), col("turn_idx"), col("role"))
      .agg(count(lit(1)).as("n_hit")) // turn grams are distinct per turn
      .filter(col("n_hit") >= minHits)
    val sizes = turns.groupBy(col("conv_id")).agg(count(lit(1)).as("n_turns"))
    val hits = hitTurns.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_hit_turns"),
      max(when(col("role") === "assistant", 1L).otherwise(0L)).as("ah"))
    sizes.join(hits, Seq("conv_id"), "left")
      .select(col("conv_id"), col("n_turns"),
        coalesce(col("n_hit_turns"), lit(0L)).as("n_hit_turns"),
        (coalesce(col("ah"), lit(0L)) === 1L).as("asst_hit"))
      .withColumn("verdict",
        when(col("asst_hit"), "drop_conv")
          .when(col("n_hit_turns") > 0, "drop_turns")
          .otherwise("keep"))
  }

  // ------------------------------------------- SFT training assembly

  /** Deterministic chat-template render — the step between curated
    * conversations and token streams: turn t becomes
    * `<|role|> content <|end|>` (whitespace-separated marker tokens,
    * so the ledger stays the whitespace tokenizer used corpus-wide and
    * every turn renders to ≥ 2 tokens — the packing arithmetic never
    * sees an empty span). `is_loss` marks the spans a supervised
    * fine-tune trains on: assistant turns only — system/user turns are
    * context, their tokens are masked out of the loss. Pure per-row
    * projection (no shuffle at any scale). Output: (conv_id, turn_idx,
    * role, rendered, n_tok, is_loss). */
  def render(turns: DataFrame): DataFrame = {
    val rendered = concat(lit("<|"), col("role"), lit("|> "),
      col("content"), lit(" <|end|>"))
    turns.select(col("conv_id"), col("turn_idx"), col("role"),
      rendered.as("rendered"),
      TextFunctions.tokenCount(rendered).cast("long").as("n_tok"),
      (col("role") === "assistant").as("is_loss"))
  }

  /** Loss-mask packing — [[render]]ed turns concat-and-chunked into
    * fixed-length training sequences ([[Packing.packSequences]]'s
    * ledger discipline at TURN granularity), emitting one SPAN row per
    * (turn × sequence it touches): `(seq_id, conv_id, turn_idx,
    * is_loss, off_start, len)` — token positions [off_start,
    * off_start+len) of sequence seq_id belong to this turn and train
    * iff is_loss. That is exactly the mask ledger a data loader needs
    * to materialize any shard independently: concatenation order is
    * the total (conv_id, turn_idx) order, so a conversation's turns
    * stay adjacent and a conversation crossing a sequence boundary
    * splits mid-transcript (the standard GPT-style packing trade —
    * no padding, bounded fragmentation).
    *
    * Scale: the global token prefix sum is a [[Prefix.running]] sum
    * over conv_id buckets (never a global one-task window; its one
    * shared exchange keeps the upstream fixture parse, clean and
    * render chain to one corpus pass); the span
    * explode emits at most ⌈n_tok/seqLen⌉+1 rows per turn, so span
    * volume is linear in corpus tokens; divisions of the corpus-scale
    * prefix sum route through [[TDigest.exactDiv]]'s DECIMAL path
    * (exact past 2^53).
    *
    * DENSE-conv_id CONTRACT: the bucket is `conv_id / bucketWidth`,
    * so the carry is ≤ max(conv_id)/bucketWidth rows — small only
    * when conv_ids are reasonably DENSE (sequential ingest ids, the
    * shape every producer in this repo emits). With sparse ids (e.g.
    * raw 64-bit hashes) each bucket would hold ~1 conversation and
    * the carry would degenerate to a one-task window over
    * ~|conversations| rows — still correct, but the claim above no
    * longer holds. A sparse-id corpus must densify first (land ids
    * through an ingest registry, or zipWithIndex once) rather than
    * widen bucketWidth, because the in-bucket window has the inverse
    * failure (one bucket holding the whole corpus). Deriving the
    * bucket from a dense rank inside this operator would itself be
    * the forbidden global window, so the contract sits at the id
    * producer — where it is already met. */
  def packWithLossMask(rendered: DataFrame, seqLen: Long,
      bucketWidth: Long = 1L << 20): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val d = rendered.select(col("conv_id"), col("turn_idx"),
      col("is_loss"), col("n_tok"))
      .withColumn("b", TDigest.exactDiv(col("conv_id"), lit(bucketWidth)))
    val st = col("st")
    val en = st + col("n_tok") - 1
    Prefix.running(d, Nil, "b", Seq(col("conv_id"), col("turn_idx")),
        Seq("st" -> col("n_tok")), Prefix.Sum, Prefix.ExclusiveRows)
      .select(col("conv_id"), col("turn_idx"), col("is_loss"),
        st, en.as("en"),
        explode(sequence(TDigest.exactDiv(st, lit(seqLen)),
          TDigest.exactDiv(en, lit(seqLen)))).as("seq_id"))
      .select(col("seq_id"), col("conv_id"), col("turn_idx"), col("is_loss"),
        greatest(col("st") - col("seq_id") * seqLen, lit(0L)).as("off_start"),
        (least(col("en") - col("seq_id") * seqLen, lit(seqLen - 1)) -
          greatest(col("st") - col("seq_id") * seqLen, lit(0L)) + 1).as("len"))
  }

  /** Per-sequence readout of a [[packWithLossMask]] ledger: span
    * count, total tokens (== seqLen for every sequence but the last),
    * and the LOSS-token count — the fill/mask ratio a seqLen sweep
    * tunes against (a pack whose sequences are 90% masked context is
    * wasting compute). One hash aggregate over span rows. */
  def packedSeqStats(spans: DataFrame): DataFrame =
    spans.groupBy(col("seq_id")).agg(
      count(lit(1)).as("n_spans"),
      sum(col("len")).as("n_tok"),
      sum(when(col("is_loss"), col("len")).otherwise(0L)).as("n_loss_tok"))

  /** ATTENTION-boundary ledger of a [[packWithLossMask]] pack: one row
    * per (sequence × conversation segment) — `(seq_id, conv_id,
    * off_start, len)` = token positions [off_start, off_start+len) of
    * sequence seq_id belong to conversation conv_id. GPT-style packing
    * without these boundaries leaks cross-conversation context at
    * train time (position t attends to an unrelated transcript packed
    * before it); with them a loader builds the block-diagonal
    * attention mask per sequence without re-deriving the pack. The
    * segment is CONTIGUOUS by construction — concatenation order is
    * the total (conv_id, turn_idx) order, so a conversation's tokens
    * inside one sequence form one unbroken run and
    * `min(off_start) + sum(len)` is its exclusive end. One hash
    * aggregate over the span relation (it IS the span ledger
    * re-grouped per (seq_id, conv_id) — no new shuffle shape, and the
    * output is ≤ the span count, linear in corpus tokens). */
  def packAttentionBoundaries(spans: DataFrame): DataFrame =
    spans.groupBy(col("seq_id"), col("conv_id")).agg(
      min(col("off_start")).as("off_start"),
      sum(col("len")).as("len"))

  // ---------------------------------------------------------- templates

  /** System-prompt template groups: fingerprint of the NORMALIZED
    * system turn (array position 0, role `system`) → conversations
    * per template + min-conv exemplar. Conversations WITHOUT a system
    * turn are excluded — template analysis is a statement about the
    * instruction frames that exist, and an artificial sentinel group
    * would conflate "no template" with a real (empty-string)
    * template. */
  def templates(turns: DataFrame): DataFrame =
    turns.filter(col("turn_idx") === 0 && col("role") === "system")
      .select(col("conv_id"),
        TextFunctions.fingerprint(col("content")).as("template_fp"))
      .groupBy(col("template_fp"))
      .agg(count(lit(1)).as("n_convs"), min(col("conv_id")).as("exemplar"))

  // ----------------------------------------------------------- fixture

  /** Deterministic conversation fixture from `documents` — the test
    * carrier both engines rebuild op-for-op. Shape (all arithmetic on
    * nonnegative longs, so `%` == pmod on both engines):
    *  - conv_of = doc_id / 4, turn_of = doc_id % 4; a turn exists iff
    *    turn_of < 1 + conv_of % 4 → conversation lengths cycle
    *    1,2,3,4 (single-turn class: conv_of % 4 == 0);
    *  - roles: turn 0 `system`, odd `user`, even `assistant` —
    *    EXCEPT conv_of % 8 == 6 (length 3), whose turn 2 is `tool`
    *    (a function-call result carrying the doc text): real SFT
    *    corpora interleave tool turns, and the class pins their
    *    contract through every gated path — rendered as
    *    `<|tool|> … <|end|>` with is_loss = false (tool output is
    *    context, never a training target), gate fails strip like any
    *    non-system turn, and a contaminated tool turn earns
    *    `drop_turns`, never `drop_conv` (only ASSISTANT leaks teach
    *    the model to emit benchmark answers — conv_of ≡ 6 (mod 40)
    *    plants exactly that case: its tool turn carries a %20==6
    *    eval doc and no other turn of the conversation is
    *    contaminated);
    *  - system content is one of FIVE templates (`conv_of % 5`),
    *    upper-cased on odd conv_of — the case variant [[templates]]'
    *    normalization must collapse;
    *  - other turns carry the doc's text, quote/backslash-stripped so
    *    the hand-built JSON needs no escaping;
    *  - gate plants: conv_of % 8 == 3 → turn 1 is `ok` (under-length
    *    → 1 structural fail of 4 → drop_turns class); conv_of % 8 ==
    *    7 → turns 1 AND 2 `ok` (2 fails of 4 → drop_conv class);
    *    conv_of % 8 == 1 → turn 1 carries a planted email (PII in an
    *    otherwise-clean conversation — kept by [[gate]], REDACTED by
    *    [[clean]], so the redaction path is never vacuously gated);
    *  - NEAR mirror: conv_of % 8 == 2 (length 3) re-emitted as
    *    conv_id + 10000 with a token suffix on turn 2 — near but not
    *    exact;
    *  - EXACT mirror: conv_of % 8 == 5 (length 2) re-emitted as
    *    conv_id + 20000 upper-cased with doubled spaces — equal after
    *    normalization only, so [[dedupExact]]'s normText is what the
    *    gate checks.
    * Output: (conv_id, payload) with payload a hand-concatenated JSON
    * array in turn order. */
  def fixture(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val base = turnRows(docs, id, text)
    base.groupBy(col("conv_id")).agg(
      concat(lit("["), array_join(transform(
        array_sort(collect_list(struct(col("turn_of"), col("tj")))),
        x => x.getField("tj")), ","), lit("]")).as("payload"))
  }

  /** The pre-payload turn relation behind [[fixture]]:
    * (conv_id, turn_of, role, content, tj) — base + mirror rows. */
  private def turnRows(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val d = docs.select(id.cast("long").as("doc_id"),
        regexp_replace(text, "[\"\\\\]", "").as("ct"))
      .withColumn("conv_of", TDigest.exactDiv(col("doc_id"), lit(4L)))
      .withColumn("turn_of", pmod(col("doc_id"), lit(4L)))
      .filter(col("turn_of") < lit(1L) + pmod(col("conv_of"), lit(4L)))
    val tpl = concat(lit("You are assistant profile "),
      pmod(col("conv_of"), lit(5L)).cast("string"),
      lit(" always follow the system rules carefully"))
    val sysContent = when(pmod(col("conv_of"), lit(2L)) === 1, upper(tpl))
      .otherwise(tpl)
    val m8 = pmod(col("conv_of"), lit(8L))
    val userContent =
      when(col("turn_of") === 1 && (m8 === 3 || m8 === 7), lit("ok"))
        .when(col("turn_of") === 2 && m8 === 7, lit("ok"))
        .when(col("turn_of") === 1 && m8 === 1,
          concat(col("ct"), lit(" contact agent"),
            col("doc_id").cast("string"), lit("@mail.example.com now")))
        .otherwise(col("ct"))
    val turns = d.select(col("conv_of"), col("turn_of"),
      when(col("turn_of") === 0, "system")
        .when(pmod(col("turn_of"), lit(2L)) === 1, "user")
        .when(col("turn_of") === 2 && m8 === 6, "tool")
        .otherwise("assistant").as("role"),
      when(col("turn_of") === 0, sysContent).otherwise(userContent)
        .as("content"))
    val nearMirror = turns.filter(pmod(col("conv_of"), lit(8L)) === 2)
      .select((col("conv_of") + 10000L).as("conv_of"), col("turn_of"),
        col("role"),
        when(col("turn_of") === 2,
          concat(col("content"), lit(" extra trailing marker tokens")))
          .otherwise(col("content")).as("content"))
    val exactMirror = turns.filter(pmod(col("conv_of"), lit(8L)) === 5)
      .select((col("conv_of") + 20000L).as("conv_of"), col("turn_of"),
        col("role"),
        upper(regexp_replace(col("content"), " ", "  ")).as("content"))
    turns.unionByName(nearMirror).unionByName(exactMirror)
      .select(col("conv_of").as("conv_id"), col("turn_of"), col("role"),
        col("content"),
        concat(lit("{\"role\":\""), col("role"),
          lit("\",\"content\":\""), col("content"), lit("\"}")).as("tj"))
  }

  // ------------------------------------------------- DuckDB oracles

  /** DuckDB normText. */
  private[ops] def normSql(e: String): String =
    raw"""regexp_replace(lower(trim($e)), '\s+', ' ', 'g')"""

  /** Fixture turn-relation CTEs (independent spec: rebuilds the
    * pre-payload turns, NEVER re-parses the JSON — ends with CTE
    * `${p}cturns(conv_id, turn_of, role, content)`). */
  def fixtureTurnCtes(src: String = "documents", p: String = ""): String =
    raw"""${p}cdocs AS (SELECT doc_id, regexp_replace(text, '["\\]', '', 'g') AS ct, doc_id // 4 AS conv_of, doc_id % 4 AS turn_of FROM $src WHERE doc_id % 4 < 1 + (doc_id // 4) % 4),
${p}cbase AS (SELECT conv_of, turn_of,
  CASE WHEN turn_of = 0 THEN 'system' WHEN turn_of % 2 = 1 THEN 'user' WHEN turn_of = 2 AND conv_of % 8 = 6 THEN 'tool' ELSE 'assistant' END AS role,
  CASE WHEN turn_of = 0 THEN
    CASE WHEN conv_of % 2 = 1 THEN upper('You are assistant profile ' || CAST(conv_of % 5 AS VARCHAR) || ' always follow the system rules carefully')
         ELSE 'You are assistant profile ' || CAST(conv_of % 5 AS VARCHAR) || ' always follow the system rules carefully' END
  WHEN turn_of = 1 AND (conv_of % 8 = 3 OR conv_of % 8 = 7) THEN 'ok'
  WHEN turn_of = 2 AND conv_of % 8 = 7 THEN 'ok'
  WHEN turn_of = 1 AND conv_of % 8 = 1 THEN ct || ' contact agent' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
  ELSE ct END AS content FROM ${p}cdocs),
${p}cturns AS (SELECT conv_of AS conv_id, turn_of, role, content FROM ${p}cbase
 UNION ALL SELECT conv_of + 10000, turn_of, role,
   CASE WHEN turn_of = 2 THEN content || ' extra trailing marker tokens' ELSE content END
   FROM ${p}cbase WHERE conv_of % 8 = 2
 UNION ALL SELECT conv_of + 20000, turn_of, role, upper(regexp_replace(content, ' ', '  ', 'g'))
   FROM ${p}cbase WHERE conv_of % 8 = 5)"""

  /** Oracle for [[flatten]] ∘ [[fixture]]: the turn relation plus the
    * per-conv turn count — array positions equal turn_of because the
    * payload is built in turn order. */
  def flattenOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)}
SELECT conv_id, turn_of AS turn_idx, role, content,
 count(*) OVER (PARTITION BY conv_id) AS n_turns
FROM cturns"""

  /** Normalized-transcript CTE (appends to [[fixtureTurnCtes]]; ends
    * with `${p}ctext(doc_id, text)` — doc_id-named so
    * [[graft.dedup.MinHash.oracleCtes]] can consume it as `src`). */
  def convTextCte(p: String = ""): String =
    s"""${p}ctext AS (SELECT conv_id AS doc_id, string_agg(role || ': ' || ${normSql("content")}, ' ' ORDER BY turn_of) AS text FROM ${p}cturns GROUP BY conv_id)"""

  /** Oracle for [[dedupExact]] ∘ [[flatten]] ∘ [[fixture]]. */
  def dedupExactOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${convTextCte()},
keyed AS (SELECT doc_id AS conv_id, md5(text) AS k FROM ctext)
SELECT conv_id, min(conv_id) OVER (PARTITION BY k) AS canon_id,
 conv_id <> min(conv_id) OVER (PARTITION BY k) AS is_dup
FROM keyed"""

  /** Oracle for [[nearDupPairs]]: the MinHash oracle chain verbatim
    * over the conversation transcript relation. */
  def nearDupOracleSql(src: String = "documents",
      cfg: graft.dedup.MinHash.Config = graft.dedup.MinHash.Config()): String = {
    val pre = s"${fixtureTurnCtes(src)},\n${convTextCte()}"
    s"""${graft.dedup.MinHash.oracleCtes(cfg, src = "ctext", pre = pre)}
SELECT doc_a AS conv_a, doc_b AS conv_b, jaccard FROM verified WHERE jaccard >= ${cfg.threshold}"""
  }

  /** Oracle for [[decontaminate]] ∘ [[flatten]] ∘ [[fixture]] — the
    * eval set is `evalPredSql` documents' first `evalPrefixToks`
    * tokens (the q_decontaminate derivation), turns rebuilt from the
    * pre-payload relation. */
  def decontaminateOracleSql(evalPredSql: String, evalPrefixToks: Int,
      n: Int = 5, minHits: Int = 1, src: String = "documents"): String =
    raw"""WITH ${fixtureTurnCtes(src)},
dtoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM $src),
eg AS (SELECT DISTINCT unnest(${Decontaminate.shinglesSql(s"toks[1:$evalPrefixToks]", n)}) AS gram FROM dtoks WHERE $evalPredSql),
tg AS (SELECT conv_id, turn_of, role, unnest(${Decontaminate.shinglesSql(raw"regexp_split_to_array(trim(content), '\s+')", n)}) AS gram FROM cturns),
th AS (SELECT conv_id, turn_of, role, count(*) AS n_hit FROM tg JOIN eg USING (gram) GROUP BY 1, 2, 3 HAVING count(*) >= $minHits),
cs AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM cturns GROUP BY 1),
ch AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_hit_turns, max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS ah FROM th GROUP BY 1)
SELECT cs.conv_id, cs.n_turns, CAST(coalesce(ch.n_hit_turns, 0) AS BIGINT) AS n_hit_turns, coalesce(ch.ah, 0) = 1 AS asst_hit,
 CASE WHEN coalesce(ch.ah, 0) = 1 THEN 'drop_conv' WHEN coalesce(ch.n_hit_turns, 0) > 0 THEN 'drop_turns' ELSE 'keep' END AS verdict
FROM cs LEFT JOIN ch ON cs.conv_id = ch.conv_id"""

  /** Per-turn fail predicate in DuckDB (mirrors [[turnFails]]). */
  private[ops] def turnFailsSql(c: String): String = {
    val stopPat = TextFunctions.langStopwords.toMap.apply("en")
    val n = raw"CAST(len(regexp_split_to_array(trim($c), '\s+')) AS DOUBLE)"
    val nt = s"greatest($n, 1.0)"
    val pu = s"CAST(len(regexp_extract_all($c, '[.,;:!?]')) AS DOUBLE)"
    val st = s"CAST(len(regexp_extract_all(lower($c), '$stopPat')) AS DOUBLE)"
    val q = s"floor((0.5 * least(1.0, $n/64.0) + 0.3 * (1.0 - least(1.0, $pu/$nt)) + 0.2 * least(1.0, 4.0*$st/$nt)) * 10000.0 + 0.5) / 10000.0"
    s"""($n < $MinTurnTokens OR $q < $QualityFloor)"""
  }

  /** DuckDB twin of [[piiHit]]. */
  private[ops] def piiHitSql(c: String): String =
    s"""(regexp_matches($c, '${TextFunctions.EmailRe}') OR regexp_matches($c, '${TextFunctions.PhoneRe}') OR regexp_matches($c, '${TextFunctions.Ipv4Re}'))"""

  /** Oracle for [[gate]] ∘ [[flatten]] ∘ [[fixture]]. */
  def gateOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
sig AS (SELECT conv_id, role, ${turnFailsSql("content")} AS f, ${piiHitSql("content")} AS pii FROM cturns),
agg AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
  CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
  CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii,
  max(CASE WHEN f AND role = 'system' THEN 1 ELSE 0 END) AS sys_fail
 FROM sig GROUP BY conv_id)
SELECT conv_id, n_turns, n_fail, n_pii,
 CASE WHEN n_fail = 0 THEN 'keep'
      WHEN sys_fail = 1 OR 2 * n_fail >= n_turns THEN 'drop_conv'
      ELSE 'drop_turns' END AS verdict,
 CASE WHEN n_fail > 0 AND (sys_fail = 1 OR 2 * n_fail >= n_turns) THEN 0
      ELSE n_turns - n_fail END AS n_kept
FROM agg"""

  /** CTE chain replaying [[clean]] over a `${p}cturns` relation —
    * verdicts, turn filter, dense re-index, and the email→IP→phone
    * redaction chain in [[TextFunctions.redactPii]]'s exact order.
    * Ends with `${p}cclean(conv_id, turn_idx, role, content,
    * orig_turn_idx)`, composable so the render/pack/ingest oracles
    * build on the identical clean spec (one copy is load-bearing: a
    * fix applied to a private copy would leave the downstream gates
    * checking a stale clean). */
  def cleanCtes(p: String = ""): String = {
    val redacted =
      s"""regexp_replace(regexp_replace(regexp_replace(content, '${TextFunctions.EmailRe}', '<EMAIL>', 'g'), '${TextFunctions.Ipv4Re}', '<IP>', 'g'), '${TextFunctions.PhoneRe}', '<PHONE>', 'g')"""
    s"""${p}sig AS (SELECT conv_id, turn_of, role, content, ${turnFailsSql("content")} AS f FROM ${p}cturns),
${p}agg AS (SELECT conv_id,
  CASE WHEN sum(CASE WHEN f THEN 1 ELSE 0 END) = 0 THEN 'keep'
       WHEN max(CASE WHEN f AND role = 'system' THEN 1 ELSE 0 END) = 1
            OR 2 * sum(CASE WHEN f THEN 1 ELSE 0 END) >= count(*) THEN 'drop_conv'
       ELSE 'drop_turns' END AS verdict
 FROM ${p}sig GROUP BY conv_id),
${p}kept AS (SELECT s.* FROM ${p}sig s JOIN ${p}agg a ON s.conv_id = a.conv_id
 WHERE a.verdict = 'keep' OR (a.verdict = 'drop_turns' AND NOT s.f)),
${p}cclean AS (SELECT conv_id,
 CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_of) - 1 AS BIGINT) AS turn_idx,
 role, $redacted AS content, turn_of AS orig_turn_idx
FROM ${p}kept)"""
  }

  /** Oracle for [[clean]] ∘ [[flatten]] ∘ [[fixture]]. */
  def cleanOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${cleanCtes()}
SELECT conv_id, turn_idx, role, content, orig_turn_idx FROM cclean"""

  /** Render-relation CTEs over `${p}cclean` (appends to [[cleanCtes]];
    * ends with `${p}crend(conv_id, turn_idx, role, rendered, n_tok,
    * is_loss)` — the template string built op-identically to
    * [[render]], the token count the whitespace ledger). */
  def renderCtes(p: String = ""): String =
    raw"""${p}crend AS (SELECT conv_id, turn_idx, role,
 '<|' || role || '|> ' || content || ' <|end|>' AS rendered,
 CAST(len(regexp_split_to_array(trim('<|' || role || '|> ' || content || ' <|end|>'), '\s+')) AS BIGINT) AS n_tok,
 role = 'assistant' AS is_loss FROM ${p}cclean)"""

  /** Oracle for [[render]] ∘ [[clean]] ∘ [[flatten]] ∘ [[fixture]]. */
  def renderOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${cleanCtes()},
${renderCtes()}
SELECT conv_id, turn_idx, role, rendered, n_tok, is_loss FROM crend"""

  /** Span-ledger CTEs replaying [[packWithLossMask]] over `${p}crend`
    * (the oracle may use the single global window the engine may not —
    * the [[Packing.packOracleSql]] precedent); ends with
    * `${p}cspan(seq_id, conv_id, turn_idx, is_loss, off_start, len)`. */
  def packSpanCtes(seqLen: Long, p: String = ""): String =
    s"""${p}cled AS (SELECT conv_id, turn_idx, is_loss, n_tok,
 CAST(coalesce(sum(n_tok) OVER (ORDER BY conv_id, turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
 FROM ${p}crend),
${p}cspan AS (SELECT seq_id, conv_id, turn_idx, is_loss,
 CAST(greatest(st - seq_id * $seqLen, 0) AS BIGINT) AS off_start,
 CAST(least(st + n_tok - 1 - seq_id * $seqLen, ${seqLen - 1}) - greatest(st - seq_id * $seqLen, 0) + 1 AS BIGINT) AS len
 FROM (SELECT *, unnest(range(st // $seqLen, (st + n_tok - 1) // $seqLen + 1)) AS seq_id FROM ${p}cled))"""

  /** Oracle for [[packWithLossMask]] ∘ [[render]] ∘ [[clean]]. */
  def packOracleSql(seqLen: Long, src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${cleanCtes()},
${renderCtes()},
${packSpanCtes(seqLen)}
SELECT seq_id, conv_id, turn_idx, is_loss, off_start, len FROM cspan"""

  /** Oracle for [[packedSeqStats]] ∘ [[packWithLossMask]]. */
  def packStatsOracleSql(seqLen: Long, src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${cleanCtes()},
${renderCtes()},
${packSpanCtes(seqLen)}
SELECT seq_id, CAST(count(*) AS BIGINT) AS n_spans,
 CAST(sum(len) AS BIGINT) AS n_tok,
 CAST(sum(CASE WHEN is_loss THEN len ELSE 0 END) AS BIGINT) AS n_loss_tok
FROM cspan GROUP BY seq_id"""

  /** Oracle for [[packAttentionBoundaries]] ∘ [[packWithLossMask]]:
    * the span CTEs re-grouped per (seq_id, conv_id). */
  def packAttnOracleSql(seqLen: Long, src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)},
${cleanCtes()},
${renderCtes()},
${packSpanCtes(seqLen)}
SELECT seq_id, conv_id, CAST(min(off_start) AS BIGINT) AS off_start,
 CAST(sum(len) AS BIGINT) AS len
FROM cspan GROUP BY seq_id, conv_id"""

  /** Cleaned-transcript CTE over `${p}cclean`: (doc_id, text) — the
    * conversation-level dedup relation of the streaming ingest
    * ([[graft.streaming.ConvIngest]]); doc_id-named so
    * [[graft.dedup.MinHash.oracleCtes]] can consume it. */
  def cleanTextCte(p: String = ""): String =
    s"""${p}cctext AS (SELECT conv_id AS doc_id, string_agg(role || ': ' || ${normSql("content")}, ' ' ORDER BY turn_idx) AS text FROM ${p}cclean GROUP BY conv_id)"""

  /** ONE batch oracle for the whole streamed SFT flow
    * (q_conv_pipeline_stream): clean → cleaned transcript → exact keep
    * (min conv_id per fingerprint — "first landed" under the
    * conv_id-monotone arrival contract) → MinHash near-dup chain →
    * evictions dropped → surviving turns rendered and loss-mask
    * packed. Every stage is the CTE the batch gates already use, so
    * the streaming decomposition must be invisible in the result. */
  def pipelineStreamOracleSql(seqLen: Long, src: String = "documents",
      cfg: graft.dedup.MinHash.Config = graft.dedup.MinHash.Config()): String = {
    // conversation CTEs carry the "cv" prefix: the MinHash chain owns
    // the unprefixed namespace (it emits `sig`, which cleanCtes also
    // would — caught by the gate as a DuckDB duplicate-CTE error)
    val pre = s"""${fixtureTurnCtes(src, "cv")},
${cleanCtes("cv")},
${cleanTextCte("cv")},
cexact AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER (PARTITION BY substring(md5(${normSql("text")}), 1, 16) ORDER BY doc_id ASC) AS rn FROM cvcctext) WHERE rn = 1)"""
    s"""${graft.dedup.MinHash.oracleCtes(cfg, src = "cexact", pre = pre)},
cdrops AS (SELECT DISTINCT doc_b AS conv_id FROM verified WHERE jaccard >= ${cfg.threshold}),
ckept AS (SELECT doc_id AS conv_id FROM cexact WHERE doc_id NOT IN (SELECT conv_id FROM cdrops)),
svcclean AS (SELECT c.* FROM cvcclean c JOIN ckept k ON c.conv_id = k.conv_id),
${renderCtes("sv")},
${packSpanCtes(seqLen, "sv")}
SELECT seq_id, conv_id, turn_idx, is_loss, off_start, len FROM svcspan"""
  }

  /** Batch replay of the conversation ingest's MONITOR MV
    * (q_conv_monitor_stream): each additive counter re-derived by
    * assigning conversations/evictions to their arrival batch
    * (`lo1`/`lo2` are the batch boundaries — valid because arrival is
    * conv_id-monotone, the stream contract). Counters: conversations
    * in, surviving clean, exact-new, near-dup evictions, landed
    * turns. */
  def monitorStreamOracleSql(lo1: Long, lo2: Long,
      src: String = "documents",
      cfg: graft.dedup.MinHash.Config = graft.dedup.MinHash.Config()): String = {
    def b(c: String) =
      s"CASE WHEN $c < $lo1 THEN 0 WHEN $c < $lo2 THEN 1 ELSE 2 END"
    val pre = s"""${fixtureTurnCtes(src, "cv")},
${cleanCtes("cv")},
${cleanTextCte("cv")},
cexact AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER (PARTITION BY substring(md5(${normSql("text")}), 1, 16) ORDER BY doc_id ASC) AS rn FROM cvcctext) WHERE rn = 1)"""
    s"""${graft.dedup.MinHash.oracleCtes(cfg, src = "cexact", pre = pre)},
m1 AS (SELECT ${b("conv_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_in FROM (SELECT DISTINCT conv_id FROM cvcturns) GROUP BY 1),
m2 AS (SELECT ${b("conv_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_cleaned FROM (SELECT DISTINCT conv_id FROM cvcclean) GROUP BY 1),
m3 AS (SELECT ${b("doc_id")} AS batch_id, CAST(count(*) AS BIGINT) AS n_fresh FROM cexact GROUP BY 1),
m4 AS (SELECT ${b("doc_b")} AS batch_id, CAST(count(*) AS BIGINT) AS n_evicted FROM verified WHERE jaccard >= ${cfg.threshold} GROUP BY 1),
m5 AS (SELECT ${b("c.conv_id")} AS batch_id, CAST(count(*) AS BIGINT) AS turns_fresh FROM cvcclean c JOIN cexact e ON c.conv_id = e.doc_id GROUP BY 1)
SELECT m1.batch_id, m1.n_in, CAST(coalesce(m2.n_cleaned, 0) AS BIGINT) AS n_cleaned, CAST(coalesce(m3.n_fresh, 0) AS BIGINT) AS n_fresh, CAST(coalesce(m4.n_evicted, 0) AS BIGINT) AS n_evicted, CAST(coalesce(m5.turns_fresh, 0) AS BIGINT) AS turns_fresh
FROM m1 LEFT JOIN m2 USING (batch_id) LEFT JOIN m3 USING (batch_id) LEFT JOIN m4 USING (batch_id) LEFT JOIN m5 USING (batch_id)"""
  }

  /** Oracle for [[templates]] ∘ [[flatten]] ∘ [[fixture]]. */
  def templatesOracleSql(src: String = "documents"): String =
    s"""WITH ${fixtureTurnCtes(src)}
SELECT substring(md5(${normSql("content")}), 1, 16) AS template_fp,
 CAST(count(*) AS BIGINT) AS n_convs, min(conv_id) AS exemplar
FROM cturns WHERE turn_of = 0 AND role = 'system'
GROUP BY 1"""
}
