package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / post-training data assembly — the fine-tuning half of the
  * corpus pipeline, downstream of the pretraining operators in
  * `text.Corpus`: raw interaction logs become chat-format training
  * sequences (render), per-token loss masks (mask accounting),
  * prompt-level dedup, and preference-pair mining for DPO/RLHF.
  *
  * The reference engine (jcdyer/potpot) stores rows and fetches them
  * back (`query.rs:3-9`); this family is the corpus-assembly layer a
  * fine-tuning run puts on top of that storage. Conversations are
  * modeled on the `events` table: conversation = `user_id`, turn
  * order = (`ts`, `event_id`), roles alternate user/assistant from
  * the first turn, turn content = `event_type || ' ' || props` — a
  * deterministic stand-in for real dialogue text that keeps every
  * operator's PLUMBING (ordering, grouping, template rendering, mask
  * boundaries, dedup keys, pair selection) real and hash-oracleable,
  * the `media.Multimodal` fake-decode discipline applied to dialogue.
  *
  * Scale shape shared by the family: ONE hash exchange on the
  * conversation key (the only data-moving step), per-conversation
  * state bounded by conversation length (KB — the documents
  * discipline; a conversation is a document, not a corpus), and
  * published outputs are fingerprints + integer accounting, never the
  * rendered text (the shard-export discipline: 16-byte hashes leave
  * the aggregate, payloads don't move twice). Nothing downstream of
  * the per-conversation aggregate scales with the event count.
  */
object Sft {

  /** Chat-template sentinels (the ChatML shape most open SFT stacks
    * render: im_start + role + newline + content + im_end).
    */
  private val TStart = "<|im_start|>"
  private val TEnd   = "<|im_end|>"

  /** Tool-call span sentinels — the function-calling markers open
    * agentic stacks render INSIDE an assistant turn (the Hermes /
    * Qwen-style <tool_call> convention).
    */
  private val TCallStart = "<|tool_call|>"
  private val TCallEnd   = "<|/tool_call|>"

  /** Event types whose assistant turns invoke a tool — the
    * deterministic stand-in for "this assistant turn emits a function
    * call" (the corpus's action-shaped events; `view`/`error`/`signup`
    * read as plain text turns). A pure function of the event, so both
    * engines derive identical role sequences; measured at test SF the
    * split keeps call and non-call assistant turns both live.
    */
  val ToolEventTypes = Seq("click", "purchase")

  /** q_pass_at_k success threshold in score micro-units: a sample
    * "passes" when its micro-quantized quality score is ≥ 0.55 — the
    * deterministic stand-in for "passes its unit tests", chosen to
    * SPLIT the corpus pools (measured: group pass counts span 0..n,
    * so every branch of the estimator — c = 0, interior, c = n — is
    * live at test SF).
    */
  val PassThresholdMicro = 550000L

  /** Pool size for the sampling evals (q_best_of_n / q_pass_at_k):
    * the deterministic hash-ordered sample standing in for "n i.i.d.
    * samples per task". HARD BOUND: both estimators build their
    * binomials from `factorial()`, which is exact only through 20!
    * (Spark returns NULL above 20; DuckDB's result no longer fits
    * BIGINT) — so the pool may never exceed 20 without rewriting the
    * binomials as multiplicative products. The require makes raising
    * it past the validity bound a loud failure instead of silently
    * NULL bon/pak columns.
    */
  val SamplePoolK = 16
  require(SamplePoolK <= 20,
    s"SamplePoolK=$SamplePoolK exceeds factorial()'s 20! exactness bound")

  /** Shared turn derivation: one window pass on the conversation key
    * assigns turn numbers; role alternates from the first turn (the
    * user speaks first). `row_number` over (ts, event_id) is total —
    * event_id breaks timestamp ties deterministically.
    */
  private[graft] def turns(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id").as("conv_id"), col("ts"), col("event_id"),
        concat(col("event_type"), lit(" "), col("props")).as("content"))
      .withColumn("rn", row_number().over(w))
      .withColumn("role",
        when(col("rn") % 2 === 1, lit("user")).otherwise(lit("assistant")))
  }

  /** Agentic turn derivation over ANY keyed event table with
    * (conv_id, ts, event_id, event_type, ...) — exposed so the spec
    * can drive synthetic conversations (consecutive calls, a call on
    * the final turn, a call-FREE conversation) through the exact
    * production role law: the corpus's conversations are long enough
    * that every one contains a call, so the agentic-subset filter and
    * the trailing-call edge need the synthetic drive (the nstepOf
    * precedent).
    *
    * Role law (STATELESS — one conversation-key window pass, no
    * sequential state machine): even turns are assistant; an even
    * turn is a TOOL CALL when its event is action-shaped
    * ([[ToolEventTypes]]); the turn after a calling assistant turn is
    * the tool RESULT (role `tool`) — it consumes the slot base parity
    * would give the user, which is how an agentic trace reads (user
    * asks, assistant calls, environment answers, assistant continues,
    * the user speaks again). Stateless because is_call depends only
    * on (rn parity, event_type) and role only on (rn parity,
    * lag(is_call)) — both engines derive identical sequences from one
    * window.
    */
  private[graft] def toolTurnsOf(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("event_id"))
    keyed
      .withColumn("rn", row_number().over(w))
      .withColumn("is_call", col("rn") % 2 === 0 &&
        col("event_type").isin(ToolEventTypes: _*))
      .withColumn("role",
        when(col("rn") % 2 === 0, lit("assistant"))
          .when(coalesce(lag(col("is_call"), 1).over(w), lit(false)),
            lit("tool"))
          .otherwise(lit("user")))
  }

  /** The production keyed-event view for the tool family (same
    * conversation model as [[turns]]: conversation = user_id, order =
    * (ts, event_id), content = event_type + props; args of a tool
    * call = props — the JSON the assistant "emits").
    */
  private[graft] def toolKeyed(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id").as("conv_id"), col("ts"), col("event_id"),
        col("event_type"), col("props"),
        concat(col("event_type"), lit(" "), col("props")).as("content"))

  /** The tool-span cost/mask arithmetic over any turn table carrying
    * (n_tok, props_tok, is_call, role) — ONE definition site shared
    * by the mask and pack paths (and the spec's synthetic replay).
    * Convention (extends q_sft_mask's): every turn costs n_tok + 2
    * sentinels; a CALLING assistant turn additionally renders its
    * call span (props args + 2 call markers). Trainable = what the
    * model emits: assistant content + im_end (+ the full call span,
    * markers included); user turns AND tool-result turns train
    * nothing — a tool result is an environment observation injected
    * into the context, the mask distinction that makes agentic traces
    * a different operator from plain SFT.
    */
  private[graft] def withToolCosts(t: DataFrame): DataFrame =
    t.withColumn("args_tok",
        when(col("is_call"), col("props_tok")).otherwise(lit(0L)))
      .withColumn("call_sent",
        when(col("is_call"), lit(2L)).otherwise(lit(0L)))
      .withColumn("cost",
        col("n_tok") + lit(2L) + col("args_tok") + col("call_sent"))
      .withColumn("trainable",
        when(col("role") === "assistant",
          col("n_tok") + lit(1L) + col("args_tok") + col("call_sent"))
          .otherwise(lit(0L)))

  /** q_tool_mask's body over any derived turn table — exposed for the
    * synthetic-conversation spec drive.
    */
  private[graft] def toolMaskOf(turnsDf: DataFrame): DataFrame =
    withToolCosts(turnsDf)
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col("role") === "assistant", 1L).otherwise(0L))
          .as("n_assistant"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool"),
        sum(when(col("is_call"), 1L).otherwise(0L)).as("n_calls"),
        sum(col("cost")).as("total_tokens"),
        sum(col("trainable")).as("trainable_tokens"),
        sum(when(col("role") === "user", col("cost")).otherwise(0L))
          .as("masked_user_tokens"),
        sum(when(col("role") === "tool", col("cost")).otherwise(0L))
          .as("masked_tool_tokens"))
      .select(col("conv_id"), col("n_turns"), col("n_user"),
        col("n_assistant"), col("n_tool"), col("n_calls"),
        col("total_tokens"), col("trainable_tokens"),
        col("masked_user_tokens"), col("masked_tool_tokens"),
        expr("trainable_tokens * 1000 div total_tokens").as("mask_pm"))

  /** The packed agentic-trajectory table behind q_tool_pack and the
    * tool-shard exporter — exposed (over any turn table) so the spec
    * can prove the agentic-subset filter drops a call-free
    * conversation. Only conversations with >= 1 tool call enter the
    * trajectory corpus; they pack greedily in conv order into
    * 2048-token windows under the shared overfill law
    * (Corpus.seqPackedOf). Columns: (doc_id, source='tool', n_tok,
    * running, bin, conv_trainable, conv_masked_tool, render_fp).
    */
  private[graft] def toolPackedOf(turnsDf: DataFrame): DataFrame = {
    val at = withToolCosts(turnsDf
        .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
        .withColumn("props_tok", size(split(col("props"), " ")).cast("long")))
      .withColumn("turn", concat(lit(TStart), col("role"), lit("\n"),
        col("content"),
        when(col("is_call"), concat(lit("\n" + TCallStart), col("props"),
          lit(TCallEnd))).otherwise(lit("")),
        lit(TEnd), lit("\n")))
    val convs = at
      .groupBy(col("conv_id"))
      .agg(sum(when(col("is_call"), 1L).otherwise(0L)).as("n_calls"),
        sum(col("cost")).as("conv_tokens"),
        sum(col("trainable")).as("conv_trainable"),
        sum(when(col("role") === "tool", col("cost")).otherwise(0L))
          .as("conv_masked_tool"),
        md5(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(rn, turn))), x -> x.turn)"))
          .cast("binary")).as("render_fp"))
      .filter(col("n_calls") >= 1)
      .select(col("conv_id").as("doc_id"), col("conv_tokens"),
        col("conv_trainable"), col("conv_masked_tool"), col("render_fp"))
      // thin (ids + integer accounting + 16-byte fp) rows with THREE
      // consumers (both seqPackedOf branches + the join below): the
      // barrier runs the turn render + conv aggregate once per trial
      // instead of three times (the r17 mm-chain pattern)
      .localCheckpoint()
    val packed = Corpus.seqPackedOf(convs.select(col("doc_id"),
      lit("tool").as("source"), col("conv_tokens").as("n_tok")))
    packed.join(convs, Seq("doc_id"))
  }

  private[graft] def toolPacked(s: SparkSession, d: String): DataFrame =
    toolPackedOf(toolTurnsOf(toolKeyed(s, d)))

  /** The packed-conversation table behind q_sft_pack and the SFT
    * shard exporter: one row per PROMPT-DEDUPED conversation with its
    * mask accounting, render fingerprint, and the 2048-token bin the
    * q_seq_pack overfill law assigns (via Corpus.seqPackedOf's
    * two-phase prefix sum). Columns: (doc_id = conv_id, source =
    * 'sft', n_tok = conv_tokens, running, bin, conv_trainable,
    * render_fp).
    */
  /** The pre-checkpoint kept-conversation table (one row per
    * prompt-deduped conversation, thin columns only) — exposed so
    * SftPlanSpec's conv-key-locality walk binds to the subtree that
    * actually processes text (the MmSpec pre-checkpoint-audit
    * precedent; the published q_sft_pack plan hides it behind the
    * barrier below).
    */
  private[graft] def sftKeptConvs(s: SparkSession, d: String): DataFrame = {
    val convs = turns(s, d)
      .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
      .withColumn("turn", concat(lit(TStart), col("role"), lit("\n"),
        col("content"), lit(TEnd), lit("\n")))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("n_tok") + lit(2L)).as("conv_tokens"),
        sum(when(col("role") === "assistant", col("n_tok") + lit(1L))
          .otherwise(0L)).as("conv_trainable"),
        md5(concat_ws("", expr(
          "transform(array_sort(collect_list(struct(rn, turn))), x -> x.turn)"))
          .cast("binary")).as("render_fp"),
        max(when(col("rn") === 1, md5(col("content").cast("binary"))))
          .as("prompt_fp"))
    val pick = Window.partitionBy(col("prompt_fp"))
      .orderBy(col("n_turns").desc, col("conv_id"))
    convs
      .withColumn("pick", row_number().over(pick))
      .filter(col("pick") === 1)
      .select(col("conv_id").as("doc_id"), col("conv_tokens"),
        col("conv_trainable"), col("render_fp"))
  }

  private[graft] def sftPacked(s: SparkSession, d: String): DataFrame = {
    // thin (ids + integer accounting + 16-byte fp) rows with THREE
    // consumers (both seqPackedOf branches + the join below) — the
    // q_tool_pack barrier (r18), same shape, same reason (`Tools work`:
    // executor cpu 1.08 → 0.69 s/trial)
    val kept = sftKeptConvs(s, d).localCheckpoint()
    val packed = Corpus.seqPackedOf(kept.select(col("doc_id"),
      lit("sft").as("source"), col("conv_tokens").as("n_tok")))
    packed.join(kept, Seq("doc_id"))
  }

  /** q_verify_rewards grader battery — the RLVR / IFEval shape
    * (Zhou et al. 2022 IFEval; Lambert et al. 2024 Tülu 3's
    * "verifiable rewards"): each check is a PURE FUNCTION of the
    * response trace, so the reward is reproducible by any grader.
    * Thresholds are calibrated so every check splits the driver
    * corpora BOTH ways at every SF (measured at sf0.001/0.01/0.1:
    * keyword 10/15 · 63/150 · 740/1500; norepeat 11/15 · 78/150 ·
    * 835/1500; length 7/15 · 68/150 · 660/1500; parity 5/15 ·
    * 74/150 · ~740/1500) — a grader that always passes or always
    * fails tests nothing.
    */
  val VrMinRespTokens = 100L
  val VrMinKeywordHits = 7L
  val VrMaxRepeats = 6L

  /** The check names, in assignment-index order (assigned check =
    * fp(conv_id + ':vrc') mod 4 — salted independently of the
    * keyword derivation's ':vr').
    */
  val VrChecks: Seq[String] = Seq("length", "keyword", "parity", "norepeat")

  /** The event-type vocabulary the keyword constraint draws from
    * (fp(conv_id + ':vr') mod 5) — the corpus's closed event set.
    */
  val VrKeywords: Seq[String] =
    Seq("click", "view", "purchase", "error", "signup")

  /** q_verify_rewards' body over any keyed event table (conv_id, ts,
    * event_id, event_type, props, content) — exposed so the spec can
    * drive synthetic conversations through each grader's flip point
    * (the toolTurnsOf precedent). The response = the conversation's
    * assistant turns (even rn — [[turns]]' role law); every grader is
    * exact integer/boolean arithmetic (the one regex is the ASCII
    * `\d` capture class, parity-proven live by q_engine_parity).
    */
  private[graft] def verifyRewardsOf(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("event_id"))
    def fp(salt: String) =
      conv(substring(md5(concat(col("conv_id").cast("string"), lit(salt))
        .cast("binary")), 1, 8), 16, 10).cast("long")
    val asst = keyed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") % 2 === 0)
      .withColumn("prev", lag(col("event_type"), 1).over(
        Window.partitionBy(col("conv_id")).orderBy(col("rn"))))
      .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
      .withColumn("kv",
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
      .withColumn("required_kw", element_at(
        array(VrKeywords.map(lit(_)): _*), (fp(":vr") % 5 + 1).cast("int")))
      .withColumn("assigned_check", element_at(
        array(VrChecks.map(lit(_)): _*), (fp(":vrc") % 4 + 1).cast("int")))
    asst
      .groupBy(col("conv_id"), col("required_kw"), col("assigned_check"))
      .agg(count(lit(1)).as("n_assistant"),
        sum(col("n_tok")).as("resp_tokens"),
        sum(when(col("event_type") === col("required_kw"), 1L)
          .otherwise(0L)).as("kw_hits"),
        sum(when(col("event_type") === col("prev"), 1L).otherwise(0L))
          .as("rep_n"),
        expr("max_by(kv, rn)").as("last_k"))
      .withColumn("g_length", col("resp_tokens") >= VrMinRespTokens)
      .withColumn("g_keyword", col("kw_hits") >= VrMinKeywordHits)
      .withColumn("g_parity", col("last_k") % 2 === 0)
      .withColumn("g_norepeat", col("rep_n") <= VrMaxRepeats)
      .withColumn("n_pass",
        Seq("g_length", "g_keyword", "g_parity", "g_norepeat")
          .map(c => when(col(c), 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("reward",
        when(col("assigned_check") === "length", col("g_length"))
          .when(col("assigned_check") === "keyword", col("g_keyword"))
          .when(col("assigned_check") === "parity", col("g_parity"))
          .otherwise(col("g_norepeat")).cast("long"))
      .select(col("conv_id"), col("n_assistant"), col("resp_tokens"),
        col("required_kw"), col("kw_hits"), col("rep_n"), col("last_k"),
        col("g_length"), col("g_keyword"), col("g_parity"),
        col("g_norepeat"), col("n_pass"), col("assigned_check"),
        col("reward"))
      .orderBy(col("conv_id"))
  }

  /** The shared deterministic sample pool (the q_best_of_n /
    * q_pass_at_k machinery, single-homed): per (lang, source) task,
    * the first [[SamplePoolK]] members in salted-hash order, each
    * carrying the ONE-IEEE-quantization micro reward s6i. Distinct
    * salts keep the evals' pools independent.
    */
  /** The corpus under the ONE-IEEE-quantization micro reward s6i —
    * the scoring table every sampling eval (and the arena family)
    * reads. Single definition site for the quantization.
    */
  private[graft] def microScored(s: SparkSession, d: String): DataFrame =
    TextOps.qualityScored(s, d)
      .withColumn("s6i", floor(col("score") * lit(1000000.0) + lit(0.5))
        .cast("long"))

  private[graft] def samplePool(s: SparkSession, d: String,
      salt: String): DataFrame = {
    val grp = Window.partitionBy(col("lang"), col("source"))
    val sampOrd = grp.orderBy(
      md5(concat(col("doc_id").cast("string"), lit(salt)).cast("binary")),
      col("doc_id"))
    microScored(s, d)
      .withColumn("samp", row_number().over(sampOrd))
      .filter(col("samp") <= SamplePoolK)
  }

  /** q_grpo_advantage's body over any pool (lang, source, doc_id,
    * samp, s6i) — exposed for the spec's synthetic zero-variance and
    * BigInt-replay drives. Exact-arithmetic form of the GRPO
    * group-relative advantage (Shao et al. 2024, DeepSeekMath):
    *   adv_i = (r_i − mean(r)) / std_pop(r)
    * computed as adv_num / sqrt(var_num) with
    *   adv_num = n·r_i − Σr          (exact BIGINT; Σ over the group)
    *   var_num = n·Σr² − (Σr)²       (exact BIGINT = n²·σ²_pop ≥ 0)
    * so every published column except the final adv_micro is exact,
    * and adv_micro itself is a deterministic IEEE triple on exact
    * integers — adv_num·10⁶ (< 2⁵³, exact) / sqrt(var_num) (both
    * correctly rounded), then the half-up floor. A zero-variance
    * group (all rewards equal) publishes adv_micro = 0, the GRPO
    * convention that keeps the gradient finite.
    */
  private[graft] def grpoOf(pool: DataFrame): DataFrame = {
    val grp = Window.partitionBy(col("lang"), col("source"))
    pool
      .withColumn("group_n", count(lit(1)).over(grp))
      .withColumn("sum_r", sum(col("s6i")).over(grp))
      .withColumn("sum_r2", sum(col("s6i") * col("s6i")).over(grp))
      .withColumn("adv_num", col("group_n") * col("s6i") - col("sum_r"))
      .withColumn("var_num",
        col("group_n") * col("sum_r2") - col("sum_r") * col("sum_r"))
      .select(col("lang"), col("source"), col("doc_id"), col("samp"),
        col("s6i").as("reward_micro"), col("group_n").cast("long"),
        col("adv_num"), col("var_num"),
        when(col("var_num") > 0,
          floor(col("adv_num").cast("double") * lit(1000000.0) /
            sqrt(col("var_num").cast("double")) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)).as("adv_micro"))
      .orderBy(col("lang"), col("source"), col("samp"))
  }

  /** q_self_consistency's body over any pool — exposed for the spec's
    * synthetic tie drive. Majority vote (Wang et al. 2022,
    * self-consistency): each sample's "final answer" is its reward
    * decile (s6i div 100000 — the deterministic small-cardinality
    * stand-in for a parsed chain-of-thought answer); the group's
    * published answer is the modal decile, ties broken toward the
    * SMALLEST answer (dense_rank on (votes DESC, answer ASC) — total,
    * so both engines elect identically). agree_best asks whether the
    * vote matches the single best-reward sample's answer — the
    * measurable gap between "sample many and vote" and "trust the top
    * sample" that the technique exists to exploit. All-integer.
    */
  private[graft] def selfConsistencyOf(pool: DataFrame): DataFrame = {
    val grp = Window.partitionBy(col("lang"), col("source"))
    val agrp = Window.partitionBy(col("lang"), col("source"), col("answer"))
    val withVotes = pool
      .withColumn("answer", expr("s6i div 100000"))
      .withColumn("votes", count(lit(1)).over(agrp))
      .withColumn("vrk", dense_rank().over(
        grp.orderBy(col("votes").desc, col("answer"))))
      .withColumn("brk", row_number().over(
        grp.orderBy(col("s6i").desc, col("doc_id"))))
    withVotes
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("pool_n"),
        countDistinct(col("answer")).as("n_answers"),
        max(when(col("vrk") === 1, col("answer"))).as("vote_answer"),
        max(when(col("vrk") === 1, col("votes"))).as("vote_n"),
        coalesce(max(when(col("vrk") === 2, col("votes"))), lit(0L))
          .as("runner_n"),
        max(when(col("brk") === 1, col("answer"))).as("best_answer"))
      .select(col("lang"), col("source"), col("pool_n"), col("n_answers"),
        col("vote_answer"), col("vote_n"), col("runner_n"),
        (col("vote_n") - col("runner_n")).as("margin"),
        expr("vote_n * 1000 div pool_n").as("vote_pm"),
        (col("vote_n") * 2 > col("pool_n")).as("consistent"),
        (col("vote_answer") === col("best_answer")).as("agree_best"),
        col("best_answer"))
      .orderBy(col("lang"), col("source"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CHAT-TEMPLATE rendering — the serialization step every SFT run
    // starts with: each conversation's turns render, in order, as
    // <|im_start|>role\ncontent<|im_end|>\n and concatenate into one
    // training sequence. The ordered concat is
    // array_sort(collect_list(struct(rn, turn))) inside the ONE
    // conversation-key aggregate — collect_list order is
    // shuffle-dependent, the sort on the unique turn number makes the
    // render a pure function of the data (stable under repartition
    // and retries, pinned by SftSpec). Published as fingerprint +
    // integer accounting; the rendered text stays inside the
    // aggregate. Fully oracled (DuckDB string_agg ORDER BY rn).
    "q_sft_render" -> ((s, d) =>
      turns(s, d)
        .withColumn("turn", concat(lit(TStart), col("role"), lit("\n"),
          col("content"), lit(TEnd), lit("\n")))
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
          sum(when(col("role") === "assistant", 1L).otherwise(0L))
            .as("n_assistant"),
          concat_ws("", expr(
            "transform(array_sort(collect_list(struct(rn, turn))), x -> x.turn)"))
            .as("render"))
        .select(col("conv_id"), col("n_turns"), col("n_user"),
          col("n_assistant"),
          length(col("render")).cast("long").as("render_chars"),
          md5(col("render").cast("binary")).as("render_fp"))
        .orderBy(col("conv_id"))),

    // LOSS-MASK accounting — the step that decides which tokens train:
    // assistant turns contribute to the loss, user turns (and the
    // role headers) are masked. Convention (one whitespace-token per
    // content word): a turn costs content_tokens + 2 sentinels
    // (header, im_end); an assistant turn trains on content + im_end
    // (content_tokens + 1), a user turn trains on nothing. The
    // per-conversation integer totals — and the trainable share in
    // per-mille — are what a packing run needs to budget sequences
    // (the q_token_budget discipline: plan on integers, not floats).
    // Pure map + one conversation-key aggregate; fully oracled.
    "q_sft_mask" -> ((s, d) =>
      turns(s, d)
        .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          sum(col("n_tok") + lit(2L)).as("total_tokens"),
          sum(when(col("role") === "assistant", col("n_tok") + lit(1L))
            .otherwise(0L)).as("trainable_tokens"))
        .select(col("conv_id"), col("n_turns"), col("total_tokens"),
          col("trainable_tokens"),
          expr("trainable_tokens * 1000 div total_tokens").as("mask_pm"))
        .orderBy(col("conv_id"))),

    // PROMPT-LEVEL dedup — the SFT hygiene pass (OpenAssistant/LMSYS
    // releases dedup by first user message): conversations sharing an
    // identical opening prompt collapse to one kept conversation —
    // the longest (most turns of signal), ties broken by smallest
    // conv_id. Exact-dup semantics on the prompt fingerprint, NOT the
    // whole conversation (q_dedup_exact's whole-doc key would keep
    // both of two conversations that diverge after turn 1 — here
    // that's the duplicate being removed). Thin (conv, fp, n_turns)
    // rows into one fingerprint-key window: nothing after the first
    // per-conversation aggregate scales with event count. Fully
    // oracled.
    "q_sft_prompt_dedup" -> ((s, d) => {
      val convs = turns(s, d)
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_turns"),
          max(when(col("rn") === 1, md5(col("content").cast("binary"))))
            .as("prompt_fp"))
      val pick = Window.partitionBy(col("prompt_fp"))
        .orderBy(col("n_turns").desc, col("conv_id"))
      convs
        .withColumn("pick", row_number().over(pick))
        .withColumn("n_convs",
          count(lit(1)).over(Window.partitionBy(col("prompt_fp"))))
        .filter(col("pick") === 1)
        .select(col("prompt_fp"), col("n_convs"),
          col("conv_id").as("kept_conv"), col("n_turns").as("kept_turns"),
          (col("n_convs") - lit(1L)).as("n_dropped"))
        .orderBy(col("prompt_fp"))
    }),

    // SEQUENCE PACKING of the SFT corpus — the step that closes the
    // render → mask → dedup → pack chain every post-training run
    // executes: the PROMPT-DEDUPED conversations (q_sft_prompt_dedup's
    // keep law, recomputed inline) pack greedily in conv order into
    // 2048-token training windows under q_seq_pack's overfill law (a
    // conversation lands in the bin where it STARTS — same integer
    // arithmetic, same two-phase distributed prefix sum via
    // Corpus.seqPackedOf, so the bin assignment is a pure function of
    // the data). Conversation token cost = q_sft_mask's total_tokens;
    // the mask's trainable accounting rides into the per-bin totals,
    // so a packing run can budget loss-bearing tokens per window.
    // Published per bin: integer accounting + a bin fingerprint (md5
    // of the member render fingerprints in conv order) — fingerprints
    // compose, text never re-enters.
    //
    // Scale shape: conversation CONTENT crosses exactly ONE exchange
    // (the conv-key window + aggregate share the conv_id
    // partitioning, plan-pinned); everything downstream — the
    // prompt_fp dedup window, the sub-shard offsets, the bin
    // aggregate — moves thin (id, ints, 16-byte fp) rows. Nothing
    // after the first aggregate scales with event count. Fully
    // oracled (DuckDB mirrors the chain; the running sum is a plain
    // ordered window there — semantically identical to the two-phase
    // split, which exists only to bound Spark's partition state).
    "q_sft_pack" -> ((s, d) =>
      sftPacked(s, d)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_convs"),
          sum(col("n_tok")).as("bin_tokens"),
          sum(col("conv_trainable")).as("trainable_tokens"),
          min(col("doc_id")).as("first_conv"),
          max(col("doc_id")).as("last_conv"),
          md5(concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(doc_id, render_fp))), x -> x.render_fp)"))
            .cast("binary")).as("bin_fp"))
        .orderBy(col("bin"))),

    // SFT TRAINING-SHARD EXPORT — the chain's last mile to disk: the
    // packed conversations land in a write-once `sft_shards` layout
    // partitioned by shard, with the SAME shard law as the
    // pretraining exporters (count = ⌈corpus tokens / budget⌉ derived
    // as a broadcast 1-row aggregate — no driver action; shard =
    // 48-bit md5 prefix of the sequence key, so a 2048-token training
    // window NEVER splits across shard files; one hash repartition →
    // each shard written by one task). Published manifest per shard:
    // sequence/conversation/token/trainable accounting + an
    // order-independent conversation fingerprint — what a training
    // job verifies before reading a shard. Fully oracled by composing
    // the pack chain with the shard-law SQL (the q_shard_export
    // precedent).
    "q_sft_export" -> ((s, d) =>
      graft.sources.Layouts.ensureLayout(s, d, "sft_shards",
          partitionCols = Seq("shard")) {
        val packed = sftPacked(s, d)
        Corpus.withDerivedShard(packed, "n_tok", packed)
      }
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(col("bin")).as("n_seqs"),
          count(lit(1)).as("n_convs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("conv_trainable")).as("trainable_tokens"),
          (sum(conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard"))),

    // AGENTIC TOOL-USE LOSS MASKS — the post-training data shape where
    // multi-turn conversations embed tool calls: the model must LEARN
    // to emit the call (call spans train, markers included) but must
    // NOT learn to hallucinate the environment's answer (tool-result
    // turns mask, exactly like user turns — but a training job budgets
    // and reports the two masked classes separately, which is why the
    // accounting splits masked_user from masked_tool). Role law +
    // span convention in [[toolTurnsOf]]/[[withToolCosts]].
    //
    // Scale shape — TEXT NEVER SHUFFLES here: token counts are
    // zero-shuffle map-side projections and content/props are DROPPED
    // before the one conversation-key exchange, so the window + the
    // aggregate move only thin (ids, event_type, two ints) rows —
    // stronger than q_sft_mask's shape and plan-pinned by ToolSpec.
    // Fully oracled (the role/lag law mirrors in DuckDB one-to-one).
    "q_tool_mask" -> ((s, d) =>
      toolMaskOf(toolTurnsOf(
        toolKeyed(s, d)
          .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
          .withColumn("props_tok",
            size(split(col("props"), " ")).cast("long"))
          .drop("content", "props")))
        .orderBy(col("conv_id"))),

    // AGENTIC TRAJECTORY PACKING — the tool family's pack step (the
    // chain law of this repo: every family runs assemble → transform →
    // pack → export): conversations containing at least one tool call
    // — the agentic subset; call-free conversations are plain SFT and
    // stay out of the trajectory corpus — pack greedily in conv order
    // into 2048-token windows under the SHARED overfill law
    // (Corpus.seqPackedOf). Per window: integer accounting (tokens,
    // trainable, masked-tool — what a trainer budgets per context)
    // plus the composed render fingerprint; rendered text stays
    // inside the per-conversation aggregate, content crosses exactly
    // ONE exchange (the q_sft_pack shape). Fully oracled.
    "q_tool_pack" -> ((s, d) =>
      toolPacked(s, d)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_convs"),
          sum(col("n_tok")).as("bin_tokens"),
          sum(col("conv_trainable")).as("trainable_tokens"),
          sum(col("conv_masked_tool")).as("masked_tool_tokens"),
          min(col("doc_id")).as("first_conv"),
          max(col("doc_id")).as("last_conv"),
          md5(concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(doc_id, render_fp))), x -> x.render_fp)"))
            .cast("binary")).as("bin_fp"))
        .orderBy(col("bin"))),

    // AGENTIC TRAJECTORY SHARD EXPORT — the chain's last mile, under
    // the SHARED shard law (count = ⌈corpus tokens / budget⌉ as a
    // broadcast 1-row aggregate; shard = 48-bit md5 prefix of the
    // (source, window) key, so a training window never splits across
    // shard files; one hash repartition → one task per shard) into a
    // write-once `tool_shards` layout. Manifest per shard: window/
    // conversation/token/trainable/masked-tool accounting + the
    // order-independent conversation fingerprint — what a trainer
    // verifies before reading a shard. Fully oracled by composing the
    // pack chain with the shard-law SQL (the q_sft_export precedent).
    "q_tool_export" -> ((s, d) =>
      graft.sources.Layouts.ensureLayout(s, d, "tool_shards",
          partitionCols = Seq("shard")) {
        val packed = toolPacked(s, d)
        Corpus.withDerivedShard(packed, "n_tok", packed)
      }
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(col("bin")).as("n_seqs"),
          count(lit(1)).as("n_convs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("conv_trainable")).as("trainable_tokens"),
          sum(col("conv_masked_tool")).as("masked_tool_tokens"),
          (sum(conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard"))),

    // BEST-OF-N SELECTION CURVE — the standard post-training eval for
    // a reward/quality model (BoN: sample n responses, keep the
    // best): for each comparison group, the expected best-of-n score
    // for n ∈ {1, 2, 4, 8}, computed with the EXACT unbiased
    // pool-of-K estimator (Nakano et al., WebGPT appendix):
    //   E[best-of-n] = Σ_i s_(i) · C(i−1, n−1) / C(K, n)
    // over the pool's ascending score ranks i — every subset of size
    // n has its max at rank i with probability C(i−1,n−1)/C(K,n).
    // The pool is a deterministic K=16 hash-ordered sample of the
    // group (the i.i.d.-samples stand-in; the q_corpus_shuffle
    // discipline), group key = (lang, source) as in q_pref_pairs.
    //
    // Cross-engine exactness — an ALL-INTEGER pipeline: the score
    // quantizes ONCE to micro-units via deterministic IEEE ops
    // (floor(score·10⁶ + 0.5) — multiply/add/floor are bit-identical
    // on the bit-identical score doubles, where round()'s
    // shortest-decimal half-cases are not: measured, a 9-decimal
    // round() diverged by 1 ulp on one member and flipped a published
    // 6th decimal); the estimator is then exact BIGINT weighted sums
    // (binomials via factorial div) and a half-up integer division
    // (2·num + C) div (2·C) — no float op anywhere after the
    // quantization, so published values are exact by construction.
    // bon_1_micro is the pool mean (spec-pinned, with monotonicity
    // bon_1 ≤ bon_2 ≤ bon_4 ≤ bon_8 ≤ pool max).
    //
    // Scale shape: the score is a zero-shuffle kernel projection;
    // thin (group, doc_id, s6i) rows enter ONE group-key exchange
    // (window + aggregate share the partitioning); per-group state is
    // the K=16 pool — constant — so the operator's cost is the scan.
    "q_best_of_n" -> ((s, d) => {
      val ns = Seq(1, 2, 4, 8)
      val grp = Window.partitionBy(col("lang"), col("source"))
      val ranked = samplePool(s, d, ":bon")
        .withColumn("k", count(lit(1)).over(grp))
        .withColumn("i", row_number().over(
          grp.orderBy(col("s6i"), col("doc_id"))))
      val nums = ns.map { n =>
        sum(when(col("i") >= n, col("s6i") * expr(
          s"factorial(cast(i - 1 as int)) div (factorial(${n - 1})" +
            s" * factorial(cast(i - $n as int)))")))
          .as(s"num_$n")
      }
      ranked.groupBy(col("lang"), col("source"))
        .agg(nums.head, nums.tail :+ max(col("k")).as("k"): _*)
        .select(Seq(col("lang"), col("source"),
          col("k").cast("long").as("pool_k")) ++ ns.map { n =>
          when(col("k") >= n, expr(
            s"(2 * num_$n + factorial(cast(k as int)) div (factorial($n)" +
              s" * factorial(cast(k - $n as int))))" +
              s" div (2 * (factorial(cast(k as int)) div (factorial($n)" +
              s" * factorial(cast(k - $n as int)))))"))
            .as(s"bon_${n}_micro")
        }: _*)
        .orderBy(col("lang"), col("source"))
    }),

    // PASS@K — the OTHER standard sampling eval (Chen et al. 2021,
    // the HumanEval estimator): given n pooled samples per task of
    // which c pass, the unbiased probability that at least one of k
    // drawn samples passes is pass@k = 1 − C(n−c, k) / C(n, k).
    // Task = the (lang, source) comparison group (as q_best_of_n);
    // pool = the same deterministic 16-member hash-ordered sample
    // (salted ':pak', so the two evals' pools are independent);
    // "passes" = the micro-quantized quality score clears
    // [[PassThresholdMicro]] — the deterministic stand-in for "the
    // sample passes its unit tests".
    //
    // Cross-engine exactness — ALL-INTEGER throughout (the
    // q_best_of_n discipline): one IEEE quantization of the score,
    // integer threshold compare, BIGINT binomials via factorial div
    // (n ≤ 16, so every factorial and 2·10⁶·C(n,k) fit a long), and
    // the half-up integer division (2·10⁶·(C−C′) + C) div (2·C) —
    // no float op after the quantization. Published in micro-units
    // for k ∈ {1,2,4,8} (NULL where k > n). pass@1 = c/n and the
    // curve is monotone in k (spec-pinned, plus an exact BigInt
    // replay). Scale shape: score is a zero-shuffle kernel
    // projection; thin rows, one group-key exchange, constant
    // per-group state — identical to q_best_of_n.
    "q_pass_at_k" -> ((s, d) => {
      val ks = Seq(1, 2, 4, 8)
      def binom(nExpr: String, k: Int) =
        s"(factorial(cast(($nExpr) as int)) div (factorial($k)" +
          s" * factorial(cast(($nExpr) - $k as int))))"
      samplePool(s, d, ":pak").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("s6i") >= PassThresholdMicro, 1L).otherwise(0L))
            .as("c"))
        .select(Seq(col("lang"), col("source"),
          col("n").cast("long").as("pool_n"),
          col("c").cast("long").as("n_pass")) ++ ks.map { k =>
          when(col("n") >= k, expr(
            s"cast((2 * 1000000 * (${binom("n", k)}" +
              s" - (case when n - c >= $k then ${binom("n - c", k)}" +
              s" else 0 end)) + ${binom("n", k)})" +
              s" div (2 * ${binom("n", k)}) as bigint)"))
            .as(s"pak_${k}_micro")
        }: _*)
        .orderBy(col("lang"), col("source"))
    }),

    // PREFERENCE-PAIR mining — DPO/RLHF pair construction: within
    // each comparison group, the best- and worst-scoring documents
    // under the q_quality_logistic model become (chosen, rejected).
    // Group key = (lang, source) — the stand-in for "responses to the
    // same prompt"; swapping in a prompt-cluster key (q_dedup_clusters)
    // changes one column. Selection ranks on the 9-decimal-rounded
    // score (the q_dedup_embed lesson: a last-ulp exp divergence must
    // not flip a pair) with doc_id tiebreaks chosen so the two ranks
    // pick DISTINCT rows even in an all-tied group (best: id asc,
    // worst: id desc); singleton groups can't form a pair and drop.
    // Score is computed map-side (zero-shuffle kernel projection);
    // only thin (group, doc_id, score) rows enter the ONE group-key
    // exchange — at 100 TB the window state is one group's rows, KB
    // by the grouping's construction. Fully oracled.
    "q_pref_pairs" -> ((s, d) => {
      val grp = Window.partitionBy(col("lang"), col("source"))
      val best = grp.orderBy(col("s9").desc, col("doc_id"))
      val worst = grp.orderBy(col("s9").asc, col("doc_id").desc)
      // the model (weights + features) lives in TextOps.qualityScored —
      // a retune there re-ranks the pairs here, by construction
      TextOps.qualityScored(s, d)
        .withColumn("s9", round(col("score"), 9))
        .withColumn("n_docs", count(lit(1)).over(grp))
        .withColumn("rb", row_number().over(best))
        .withColumn("rw", row_number().over(worst))
        .filter(col("n_docs") >= 2)
        .groupBy(col("lang"), col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          max(when(col("rb") === 1, col("doc_id"))).as("chosen_doc"),
          max(when(col("rb") === 1, col("s9"))).as("cs"),
          max(when(col("rw") === 1, col("doc_id"))).as("rejected_doc"),
          max(when(col("rw") === 1, col("s9"))).as("rs"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("chosen_doc"), round(col("cs"), 6).as("chosen_score"),
          col("rejected_doc"), round(col("rs"), 6).as("rejected_score"),
          round(col("cs") - col("rs"), 6).as("margin"))
        .orderBy(col("lang"), col("source"))
    }),

    // VERIFIABLE REWARDS — the RLVR grader battery (IFEval's shape,
    // Zhou et al. 2022; the binary-reward construction of Tülu 3 /
    // R1-style RL): four deterministic checks over each
    // conversation's assistant turns — a length floor, a
    // hash-assigned required keyword with a hit floor, a final-answer
    // parity (format) check, and a no-immediate-repetition cap — each
    // a pure function of the response trace, so the reward is
    // reproducible by ANY grader (the property that lets RLVR skip
    // the reward model). One hash-assigned check per conversation is
    // the RL reward; the full battery publishes alongside for rubric
    // use. Thresholds measured to split the corpus both ways at every
    // SF (constants' scaladoc). Exact integers/booleans end to end —
    // the one regex is the parity-proven ASCII \d capture. Scale
    // shape: the graders ride the SAME single conversation-key
    // exchange as q_sft_mask; per-conversation state is the turn
    // list; nothing downstream scales with event count. Fully oracled.
    "q_verify_rewards" -> ((s, d) => verifyRewardsOf(toolKeyed(s, d))),

    // GRPO ADVANTAGES — group-relative policy optimization's
    // normalization (Shao et al. 2024, DeepSeekMath): a group of K
    // sampled responses per task, each response's advantage =
    // (r_i − mean)/std_pop over ITS OWN group — no value model, the
    // group is the baseline. Task = (lang, source); pool = the
    // deterministic 16-member hash-ordered sample (salt ':grpo' —
    // independent of ':bon'/':pak'/':sc'); reward = the
    // micro-quantized quality score (swap in q_verify_rewards'
    // binary reward and the operator is unchanged — one column).
    // Published as exact BIGINT numerators (adv_num = n·r−Σr,
    // var_num = n·Σr²−(Σr)², both from ONE pass of group sums)
    // plus ONE deterministic-IEEE adv_micro at publication
    // (helper scaladoc proves the exactness budget). Scale shape:
    // score is a zero-shuffle kernel projection; thin rows into ONE
    // group-key exchange shared by pool selection and group sums;
    // per-group state = K = 16 rows, constant. Fully oracled.
    "q_grpo_advantage" -> ((s, d) => grpoOf(samplePool(s, d, ":grpo"))),

    // SELF-CONSISTENCY — majority voting over sampled answers (Wang
    // et al. 2022): per task, the pool's K samples each emit a
    // discrete answer (the reward decile — the parsed-final-answer
    // stand-in); the published answer is the modal one, ties to the
    // smallest answer (a TOTAL order, so both engines elect
    // identically); margin, vote share, and the agree-with-best-
    // sample flag quantify when voting diverges from top-1. Same
    // pool machinery (salt ':sc'), all-integer, one group-key
    // exchange, constant per-group state. Fully oracled.
    "q_self_consistency" -> ((s, d) =>
      selfConsistencyOf(samplePool(s, d, ":sc"))))

  /** Shared turn CTE for the DuckDB oracles (mirrors `turns`). */
  private val turnsSql =
    """t AS (
      |  SELECT user_id AS conv_id, event_id,
      |    event_type || ' ' || props AS content,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events),
      |r AS (
      |  SELECT conv_id, rn, content,
      |    CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role
      |  FROM t)""".stripMargin

  /** The render → mask → dedup → pack CTE chain (through `b`, the
    * binned conversations) shared by the pack and export oracles.
    */
  private def packChainSql: String =
    s"""$turnsSql,
       |c AS (
       |  SELECT conv_id, count(*) AS n_turns,
       |    CAST(sum(len(string_split(content, ' ')) + 2) AS BIGINT)
       |      AS conv_tokens,
       |    CAST(sum(CASE WHEN role = 'assistant'
       |      THEN len(string_split(content, ' ')) + 1 ELSE 0 END) AS BIGINT)
       |      AS conv_trainable,
       |    md5(string_agg('<|im_start|>' || role || chr(10) || content
       |      || '<|im_end|>' || chr(10), '' ORDER BY rn)) AS render_fp,
       |    max(CASE WHEN rn = 1 THEN md5(content) END) AS prompt_fp
       |  FROM r GROUP BY conv_id),
       |k AS (
       |  SELECT conv_id, conv_tokens, conv_trainable, render_fp FROM (
       |    SELECT *, row_number() OVER (PARTITION BY prompt_fp
       |      ORDER BY n_turns DESC, conv_id) AS pick
       |    FROM c) p
       |  WHERE pick = 1),
       |run AS (
       |  SELECT conv_id, conv_tokens, conv_trainable, render_fp,
       |    sum(conv_tokens) OVER (ORDER BY conv_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
       |  FROM k),
       |b AS (
       |  SELECT *, CAST((running - conv_tokens) // 2048 AS BIGINT) AS bin
       |  FROM run)""".stripMargin

  /** The tool-family turn chain (mirrors [[toolTurnsOf]] +
    * [[withToolCosts]]): tt (keyed) → tc (is_call) → tr (role) → ta
    * (per-turn cost/trainable). role ORDER BY rn ≡ (ts, event_id) —
    * rn is derived from exactly that order.
    */
  private val toolTurnsSql = {
    val toolEventsIn = ToolEventTypes.map("'" + _ + "'").mkString(", ")
    s"""tt AS (
       |  SELECT user_id AS conv_id, event_id, event_type, props,
       |    event_type || ' ' || props AS content,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events),
       |tc AS (
       |  SELECT *, (rn % 2 = 0 AND event_type IN ($toolEventsIn))
       |    AS is_call
       |  FROM tt),
       |tr AS (
       |  SELECT *, CASE WHEN rn % 2 = 0 THEN 'assistant'
       |      WHEN coalesce(lag(is_call) OVER (PARTITION BY conv_id
       |        ORDER BY rn), false) THEN 'tool'
       |      ELSE 'user' END AS role
       |  FROM tc),
       |ta AS (
       |  SELECT conv_id, rn, role, is_call, props, content,
       |    n_tok, args_tok, call_sent,
       |    n_tok + 2 + args_tok + call_sent AS cost,
       |    CASE WHEN role = 'assistant'
       |      THEN n_tok + 1 + args_tok + call_sent ELSE 0 END AS trainable
       |  FROM (
       |    SELECT *,
       |      CAST(len(string_split(content, ' ')) AS BIGINT) AS n_tok,
       |      CASE WHEN is_call
       |        THEN CAST(len(string_split(props, ' ')) AS BIGINT)
       |        ELSE 0 END AS args_tok,
       |      CASE WHEN is_call THEN CAST(2 AS BIGINT)
       |        ELSE CAST(0 AS BIGINT) END AS call_sent
       |    FROM tr) x)""".stripMargin
  }

  /** The tool pack chain through `b` (binned agentic conversations),
    * shared by the pack and export oracles: cv (per-conv accounting +
    * render fp with the inline call span) → ag (the agentic subset,
    * n_calls >= 1) → run/b (the greedy overfill binning).
    */
  private val toolPackChainSql =
    s"""$toolTurnsSql,
       |cv AS (
       |  SELECT conv_id,
       |    CAST(sum(CASE WHEN is_call THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_calls,
       |    CAST(sum(cost) AS BIGINT) AS conv_tokens,
       |    CAST(sum(trainable) AS BIGINT) AS conv_trainable,
       |    CAST(sum(CASE WHEN role = 'tool' THEN cost ELSE 0 END)
       |      AS BIGINT) AS conv_masked_tool,
       |    md5(string_agg('<|im_start|>' || role || chr(10) || content
       |      || CASE WHEN is_call THEN chr(10) || '<|tool_call|>' || props
       |           || '<|/tool_call|>' ELSE '' END
       |      || '<|im_end|>' || chr(10), '' ORDER BY rn)) AS render_fp
       |  FROM ta GROUP BY conv_id),
       |ag AS (SELECT * FROM cv WHERE n_calls >= 1),
       |run AS (
       |  SELECT conv_id, conv_tokens, conv_trainable, conv_masked_tool,
       |    render_fp,
       |    sum(conv_tokens) OVER (ORDER BY conv_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
       |  FROM ag),
       |b AS (
       |  SELECT *, CAST((running - conv_tokens) // 2048 AS BIGINT) AS bin
       |  FROM run)""".stripMargin

  /** The shared sample-pool CTE (mirrors [[samplePool]], one
    * definition site for all four sampling evals): s — the ONE IEEE
    * micro-quantization of the score — then the salted-hash-ordered
    * first-K pool. Kept margin-stripped HERE; concatenate, don't
    * re-interpolate into a stripMargin string (the `||` concat
    * operators would be eaten — the packChainSql lesson).
    */
  /** The micro-scored corpus CTE `s` alone (mirrors [[microScored]])
    * — the arena family composes battles over it without the pool
    * cut.
    */
  private[graft] lazy val microSql: String =
    s"""s AS (
       |  SELECT doc_id, lang, source,
       |    CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS s6i
       |  FROM (${TextOps.qualityScoredSql}) q)""".stripMargin

  private[graft] def poolSql(salt: String): String =
    s"""$microSql,
       |pool AS (
       |  SELECT lang, source, doc_id, s6i, samp FROM (
       |    SELECT lang, source, doc_id, s6i,
       |      row_number() OVER (PARTITION BY lang, source
       |        ORDER BY md5(doc_id || '$salt'), doc_id) AS samp
       |    FROM s) t WHERE samp <= $SamplePoolK)""".stripMargin

  def oracle: Map[String, String] = Map(
    // the grader battery mirrored check-for-check; the lag runs AFTER
    // the assistant filter in both engines (SQL window-after-WHERE ≡
    // Spark filter-then-lag), so `prev` is the previous ASSISTANT turn
    "q_verify_rewards" -> {
      val kwList = VrKeywords.map("'" + _ + "'").mkString(",")
      val ckList = VrChecks.map("'" + _ + "'").mkString(",")
      s"""WITH t AS (
         |  SELECT user_id AS conv_id, event_id, event_type, props,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
         |  FROM events),
         |a AS (
         |  SELECT *,
         |    lag(event_type) OVER (PARTITION BY conv_id ORDER BY rn)
         |      AS prev,
         |    CAST(len(string_split(event_type || ' ' || props, ' '))
         |      AS BIGINT) AS n_tok,
         |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS kv,
         |    [$kwList][CAST(('0x' || substr(md5(conv_id || ':vr'), 1, 8))
         |      ::BIGINT % 5 AS INT) + 1] AS required_kw,
         |    [$ckList][CAST(('0x' || substr(md5(conv_id || ':vrc'), 1, 8))
         |      ::BIGINT % 4 AS INT) + 1] AS assigned_check
         |  FROM t WHERE rn % 2 = 0),
         |g AS (
         |  SELECT conv_id, required_kw, assigned_check,
         |    count(*) AS n_assistant,
         |    CAST(sum(n_tok) AS BIGINT) AS resp_tokens,
         |    CAST(sum(CASE WHEN event_type = required_kw THEN 1 ELSE 0 END)
         |      AS BIGINT) AS kw_hits,
         |    CAST(sum(CASE WHEN event_type = prev THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rep_n,
         |    max_by(kv, rn) AS last_k
         |  FROM a GROUP BY conv_id, required_kw, assigned_check),
         |b AS (
         |  SELECT *,
         |    resp_tokens >= $VrMinRespTokens AS g_length,
         |    kw_hits >= $VrMinKeywordHits AS g_keyword,
         |    last_k % 2 = 0 AS g_parity,
         |    rep_n <= $VrMaxRepeats AS g_norepeat
         |  FROM g)
         |SELECT conv_id, n_assistant, resp_tokens, required_kw, kw_hits,
         |  rep_n, last_k, g_length, g_keyword, g_parity, g_norepeat,
         |  CAST((CASE WHEN g_length THEN 1 ELSE 0 END)
         |    + (CASE WHEN g_keyword THEN 1 ELSE 0 END)
         |    + (CASE WHEN g_parity THEN 1 ELSE 0 END)
         |    + (CASE WHEN g_norepeat THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  assigned_check,
         |  CAST(CASE assigned_check WHEN 'length' THEN g_length
         |    WHEN 'keyword' THEN g_keyword WHEN 'parity' THEN g_parity
         |    ELSE g_norepeat END AS BIGINT) AS reward
         |FROM b ORDER BY conv_id""".stripMargin
    },
    // exact integer numerators from one pass of group sums; the one
    // IEEE triple (×10⁶, /sqrt, half-up floor) only at publication
    "q_grpo_advantage" ->
      (s"WITH ${poolSql(":grpo")},\n" +
      """w AS (
        |  SELECT lang, source, doc_id, samp, s6i,
        |    count(*) OVER (PARTITION BY lang, source) AS group_n,
        |    sum(s6i) OVER (PARTITION BY lang, source) AS sum_r,
        |    sum(s6i * s6i) OVER (PARTITION BY lang, source) AS sum_r2
        |  FROM pool),
        |x AS (
        |  SELECT *, group_n * s6i - sum_r AS adv_num,
        |    group_n * sum_r2 - sum_r * sum_r AS var_num
        |  FROM w)
        |SELECT lang, source, doc_id, CAST(samp AS BIGINT) AS samp,
        |  s6i AS reward_micro, CAST(group_n AS BIGINT) AS group_n,
        |  CAST(adv_num AS BIGINT) AS adv_num,
        |  CAST(var_num AS BIGINT) AS var_num,
        |  CASE WHEN var_num > 0
        |    THEN CAST(floor(adv_num * 1000000.0 / sqrt(var_num) + 0.5)
        |      AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS adv_micro
        |FROM x ORDER BY lang, source, samp""".stripMargin),
    // modal answer with the total (votes DESC, answer ASC) tiebreak
    "q_self_consistency" ->
      (s"WITH ${poolSql(":sc")},\n" +
      """v AS (
        |  SELECT lang, source, doc_id, s6i, s6i // 100000 AS answer
        |  FROM pool),
        |w AS (
        |  SELECT *, count(*) OVER (PARTITION BY lang, source, answer)
        |    AS votes
        |  FROM v),
        |x AS (
        |  SELECT *,
        |    dense_rank() OVER (PARTITION BY lang, source
        |      ORDER BY votes DESC, answer) AS vrk,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY s6i DESC, doc_id) AS brk
        |  FROM w),
        |g AS (
        |  SELECT lang, source, count(*) AS pool_n,
        |    count(DISTINCT answer) AS n_answers,
        |    max(CASE WHEN vrk = 1 THEN answer END) AS vote_answer,
        |    max(CASE WHEN vrk = 1 THEN votes END) AS vote_n,
        |    coalesce(max(CASE WHEN vrk = 2 THEN votes END), 0) AS runner_n,
        |    max(CASE WHEN brk = 1 THEN answer END) AS best_answer
        |  FROM x GROUP BY lang, source)
        |SELECT lang, source, CAST(pool_n AS BIGINT) AS pool_n,
        |  CAST(n_answers AS BIGINT) AS n_answers,
        |  CAST(vote_answer AS BIGINT) AS vote_answer,
        |  CAST(vote_n AS BIGINT) AS vote_n,
        |  CAST(runner_n AS BIGINT) AS runner_n,
        |  CAST(vote_n - runner_n AS BIGINT) AS margin,
        |  CAST(vote_n * 1000 // pool_n AS BIGINT) AS vote_pm,
        |  vote_n * 2 > pool_n AS consistent,
        |  vote_answer = best_answer AS agree_best,
        |  CAST(best_answer AS BIGINT) AS best_answer
        |FROM g ORDER BY lang, source""".stripMargin),
    "q_tool_mask" ->
      (s"WITH $toolTurnsSql\n" +
      """SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_user,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_assistant,
        |  CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tool,
        |  CAST(sum(CASE WHEN is_call THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_calls,
        |  CAST(sum(cost) AS BIGINT) AS total_tokens,
        |  CAST(sum(trainable) AS BIGINT) AS trainable_tokens,
        |  CAST(sum(CASE WHEN role = 'user' THEN cost ELSE 0 END)
        |    AS BIGINT) AS masked_user_tokens,
        |  CAST(sum(CASE WHEN role = 'tool' THEN cost ELSE 0 END)
        |    AS BIGINT) AS masked_tool_tokens,
        |  CAST(sum(trainable) * 1000 // sum(cost) AS BIGINT) AS mask_pm
        |FROM ta GROUP BY conv_id ORDER BY conv_id""".stripMargin),
    "q_tool_pack" ->
      (s"WITH $toolPackChainSql\n" +
      """SELECT bin, count(*) AS n_convs,
        |  CAST(sum(conv_tokens) AS BIGINT) AS bin_tokens,
        |  CAST(sum(conv_trainable) AS BIGINT) AS trainable_tokens,
        |  CAST(sum(conv_masked_tool) AS BIGINT) AS masked_tool_tokens,
        |  min(conv_id) AS first_conv, max(conv_id) AS last_conv,
        |  md5(string_agg(render_fp, ',' ORDER BY conv_id)) AS bin_fp
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    "q_tool_export" ->
      (s"WITH $toolPackChainSql,\n" +
        Corpus.nshSql("conv_tokens", "b") + ",\n" +
      s"""a AS (
         |  SELECT *, ('0x' || substr(md5('tool:' || CAST(bin AS VARCHAR)),
         |    1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM b)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT bin) AS BIGINT) AS n_seqs,
         |  count(*) AS n_convs,
         |  CAST(sum(conv_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(conv_trainable) AS BIGINT) AS trainable_tokens,
         |  CAST(sum(conv_masked_tool) AS BIGINT) AS masked_tool_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(conv_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin),
    // pack chain + the derived-shard law (the q_shard_export mirror).
    // Concatenated, not interpolated: packChainSql is already
    // margin-stripped, and a second stripMargin would eat the leading
    // `||` concat operators inside it.
    "q_sft_export" ->
      (s"WITH $packChainSql,\n" +
        Corpus.nshSql("conv_tokens", "b") + ",\n" +
      s"""a AS (
         |  SELECT *, ('0x' || substr(md5('sft:' || CAST(bin AS VARCHAR)),
         |    1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM b)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT bin) AS BIGINT) AS n_seqs,
         |  count(*) AS n_convs,
         |  CAST(sum(conv_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(conv_trainable) AS BIGINT) AS trainable_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(conv_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin),
    "q_sft_render" ->
      s"""WITH $turnsSql,
         |a AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_user,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_assistant,
         |    string_agg('<|im_start|>' || role || chr(10) || content
         |      || '<|im_end|>' || chr(10), '' ORDER BY rn) AS render
         |  FROM r GROUP BY conv_id)
         |SELECT conv_id, n_turns, n_user, n_assistant,
         |  CAST(length(render) AS BIGINT) AS render_chars,
         |  md5(render) AS render_fp
         |FROM a ORDER BY conv_id""".stripMargin,
    "q_sft_mask" ->
      s"""WITH $turnsSql,
         |k AS (
         |  SELECT conv_id, role,
         |    CAST(len(string_split(content, ' ')) AS BIGINT) AS n_tok
         |  FROM r)
         |SELECT conv_id, count(*) AS n_turns,
         |  CAST(sum(n_tok + 2) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN role = 'assistant' THEN n_tok + 1 ELSE 0 END)
         |    AS BIGINT) AS trainable_tokens,
         |  CAST(sum(CASE WHEN role = 'assistant' THEN n_tok + 1 ELSE 0 END)
         |    * 1000 // sum(n_tok + 2) AS BIGINT) AS mask_pm
         |FROM k GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    "q_sft_prompt_dedup" ->
      s"""WITH $turnsSql,
         |c AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    max(CASE WHEN rn = 1 THEN md5(content) END) AS prompt_fp
         |  FROM r GROUP BY conv_id),
         |p AS (
         |  SELECT prompt_fp, conv_id, n_turns,
         |    row_number() OVER (PARTITION BY prompt_fp
         |      ORDER BY n_turns DESC, conv_id) AS pick,
         |    count(*) OVER (PARTITION BY prompt_fp) AS n_convs
         |  FROM c)
         |SELECT prompt_fp, n_convs, conv_id AS kept_conv,
         |  n_turns AS kept_turns, n_convs - 1 AS n_dropped
         |FROM p WHERE pick = 1 ORDER BY prompt_fp""".stripMargin,
    // the running sum is a plain ordered window here — DuckDB runs on
    // one node, so the two-phase sub-shard split (a Spark
    // partition-state bound, not a semantic) has no mirror to make
    "q_sft_pack" ->
      (s"WITH $packChainSql\n" +
      s"""SELECT bin, count(*) AS n_convs,
         |  CAST(sum(conv_tokens) AS BIGINT) AS bin_tokens,
         |  CAST(sum(conv_trainable) AS BIGINT) AS trainable_tokens,
         |  min(conv_id) AS first_conv, max(conv_id) AS last_conv,
         |  md5(string_agg(render_fp, ',' ORDER BY conv_id)) AS bin_fp
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    // the exact BoN estimator mirrored term-for-term: one IEEE
    // quantization to micro-units, then BIGINT weighted sums with
    // integer binomials and a half-up integer division — no round()
    "q_best_of_n" -> {
      val ns = Seq(1, 2, 4, 8)
      val numCols = ns.map { n =>
        s"""CAST(sum(CASE WHEN i >= $n THEN s6i *
           |  CAST(factorial(CAST(i - 1 AS INT)) // (factorial(${n - 1})
           |    * factorial(CAST(i - $n AS INT))) AS BIGINT) END) AS BIGINT)
           |  AS num_$n""".stripMargin
      }.mkString(",\n")
      val bonCols = ns.map { n =>
        val c = s"CAST(factorial(CAST(k AS INT)) // (factorial($n)" +
          s" * factorial(CAST(k - $n AS INT))) AS BIGINT)"
        s"""CASE WHEN k >= $n THEN
           |  (2 * num_$n + $c) // (2 * $c)
           |END AS bon_${n}_micro""".stripMargin
      }.mkString(",\n")
      s"WITH ${poolSql(":bon")},\n" +
      s"""r AS (
         |  SELECT lang, source, s6i,
         |    count(*) OVER (PARTITION BY lang, source) AS k,
         |    row_number() OVER (PARTITION BY lang, source
         |      ORDER BY s6i, doc_id) AS i
         |  FROM pool),
         |a AS (
         |  SELECT lang, source, max(k) AS k,
         |$numCols
         |  FROM r GROUP BY lang, source)
         |SELECT lang, source, CAST(k AS BIGINT) AS pool_k,
         |$bonCols
         |FROM a ORDER BY lang, source""".stripMargin
    },
    "q_pass_at_k" -> {
      val ks = Seq(1, 2, 4, 8)
      def binom(nExpr: String, k: Int) =
        s"CAST(factorial(CAST(($nExpr) AS INT)) // (factorial($k)" +
          s" * factorial(CAST(($nExpr) - $k AS INT))) AS BIGINT)"
      val pakCols = ks.map { k =>
        s"""CASE WHEN n >= $k THEN
           |  CAST((2 * 1000000 * (${binom("n", k)}
           |    - (CASE WHEN n - c >= $k THEN ${binom("n - c", k)}
           |       ELSE 0 END)) + ${binom("n", k)})
           |  // (2 * ${binom("n", k)}) AS BIGINT)
           |END AS pak_${k}_micro""".stripMargin
      }.mkString(",\n")
      s"WITH ${poolSql(":pak")},\n" +
      s"""a AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN s6i >= $PassThresholdMicro
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM pool GROUP BY lang, source)
         |SELECT lang, source, n AS pool_n, c AS n_pass,
         |$pakCols
         |FROM a ORDER BY lang, source""".stripMargin
    },
    "q_pref_pairs" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, source, round(score, 9) AS s9
         |  FROM (${TextOps.qualityScoredSql}) q),
         |w AS (
         |  SELECT lang, source, doc_id, s9,
         |    count(*) OVER (PARTITION BY lang, source) AS n_docs,
         |    row_number() OVER (PARTITION BY lang, source
         |      ORDER BY s9 DESC, doc_id) AS rb,
         |    row_number() OVER (PARTITION BY lang, source
         |      ORDER BY s9 ASC, doc_id DESC) AS rw
         |  FROM s)
         |SELECT lang, source, CAST(max(n_docs) AS BIGINT) AS n_docs,
         |  max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_doc,
         |  round(max(CASE WHEN rb = 1 THEN s9 END), 6) AS chosen_score,
         |  max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_doc,
         |  round(max(CASE WHEN rw = 1 THEN s9 END), 6) AS rejected_score,
         |  round(max(CASE WHEN rb = 1 THEN s9 END)
         |    - max(CASE WHEN rw = 1 THEN s9 END), 6) AS margin
         |FROM w WHERE n_docs >= 2
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin)
}
