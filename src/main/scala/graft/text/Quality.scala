package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality operators beyond the per-doc statistics family:
  * rule-based filtering (the Gopher/MassiveText checklist) and
  * domain-importance weighting (the DSIR shape). Both are pure
  * per-row or thin-aggregate work — the quality layer of a training
  * pipeline must not cost a corpus shuffle, and neither of these does.
  *
  * All published numbers are INTEGER (per-mille / ppm / centi-units):
  * the two engines then share exact arithmetic end-to-end with no
  * FP-order or libm exposure — the discipline q_token_budget and
  * q_doc_diversity established.
  */
object Quality {

  /** The Gopher rule thresholds, adapted to this corpus's scale: the
    * MassiveText filters bound word count 50..100k and mean word
    * length 3..10 chars for web pages; this synthetic corpus runs
    * 12..110 words/doc, so the word-count gate is 30..90 (same rule,
    * corpus-appropriate constants — the constants are the tunable,
    * the rule shapes are the operator). Symbol/bullet/ellipsis ratios
    * and the stopword floor carry Gopher's published limits.
    */
  val GopherMinWords = 30L
  val GopherMaxWords = 90L
  val GopherMinWlenCpm = 300L  // mean word length ≥ 3.00 chars
  val GopherMaxWlenCpm = 1000L // ≤ 10.00 chars
  val GopherMaxSymPm = 100L    // hash/ellipsis symbols ≤ 0.1 per word
  val GopherMaxBulletPm = 900L // ≤ 90% of lines bullet-led
  val GopherMaxEllipsisPm = 300L // ≤ 30% of lines ellipsis-ended
  val GopherMinStop = 1L       // ≥ 1 stopword hit (corpus-adapted: ≥2
                               //  for web text with a full stop list)

  /** Stopword list literal shared with the TextStats kernel (and the
    * language-ID heuristic) — one corpus-wide vocabulary of function
    * words, quoted for SQL interpolation into BOTH engines.
    */
  private val stopList: String =
    graft.functions.GraftText.Stopwords.map(w => s"'$w'").mkString(", ")

  /** Mergeable per-ingest-batch datasheet partials, written once:
    * a row per (batch, lang, source) cell — batch = a 16-way hash of
    * doc_id standing in for stream micro-batches — carrying the sums
    * and the HLL fingerprint sketch every datasheet metric merges
    * from. The ONE aggregate here is the only corpus pass the
    * incremental datasheet ever takes per batch.
    */
  private[graft] def datasheetPartials(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "datasheet_partials") {
      datasheetPartialRows(
        gopherWide(s, d)
          .withColumn("batch", pmod(xxhash64(col("doc_id")), lit(16))))
    }

  /** One ingest batch's partial cell rows — the SINGLE aggregate the
    * incremental datasheet takes per batch. `docs` must carry the
    * gopherWideOf columns plus a `batch` column.
    */
  private[graft] def datasheetPartialRows(docs: DataFrame): DataFrame =
    docs
      .select(col("batch"), col("lang"), col("source"), col("keep"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text").cast("binary")).as("fp"))
      .groupBy(col("batch"), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        hll_sketch_agg(col("fp"), lit(12)).as("fp_sk"))

  /** The metric-card derivation from ANY set of partial cell rows —
    * shared by q_datasheet_partials and the streaming twin (merging
    * is associative: sums add, HLL unions register-wise, Simpson
    * marginals sum cells — the grouping of rows into batches cannot
    * change any published value).
    */
  private[graft] def datasheetMetrics(partials: DataFrame): DataFrame = {
    val p = partials.localCheckpoint()
    val tot = p.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_keep")).as("n_keep"),
        hll_sketch_estimate(hll_union_agg(col("fp_sk"), lit(false)))
          .as("est_fp"))
      .localCheckpoint()
    def simpsonOf(keyCol: String, name: String) =
      p.groupBy(col(keyCol)).agg(sum(col("n_docs")).as("n_g"))
        .agg(sum(col("n_g").cast("decimal(38,0)") * col("n_g"))
            .as("sq"),
          sum(col("n_g")).cast("decimal(38,0)").as("nn"))
        .select(lit(name).as("metric"),
          expr("CAST(sq * 1000000 div (nn * nn) AS BIGINT)")
            .as("value"))
    tot.select(lit("m01_n_docs").as("metric"), col("n_docs").as("value"))
      .unionAll(tot.select(lit("m02_n_tokens"), col("n_tokens")))
      .unionAll(tot.select(lit("m03_mean_doc_tokens_cpm"),
        expr("n_tokens * 100 div n_docs")))
      .unionAll(tot.select(lit("m04_dup_docs_est"),
        greatest(lit(0L),
          (col("n_docs") - col("est_fp")).cast("long"))))
      .unionAll(tot.select(lit("m05_gopher_keep_pm"),
        expr("n_keep * 1000 div n_docs")))
      .unionAll(simpsonOf("lang", "m06_lang_simpson_ppm"))
      .unionAll(simpsonOf("source", "m07_source_simpson_ppm"))
  }

  /** gopherTable plus the raw source/text columns — for composers
    * (the datasheet partials) that need the rule verdict AND the raw
    * row in the SAME single pass, without a self-join on doc_id.
    */
  private[graft] def gopherWide(s: SparkSession, d: String): DataFrame =
    gopherWideOf(Tables.documents(s, d))

  /** The same rule projection over an arbitrary documents-shaped DF —
    * streaming-safe (pure per-row expressions), used by the streaming
    * datasheet twin on the ingest stream.
    */
  private[graft] def gopherWideOf(docs: DataFrame): DataFrame =
    docs
        .withColumn("words", split(col("text"), " "))
        .withColumn("lines", split(col("text"), "\n"))
        .withColumn("n_words", size(col("words")).cast("long"))
        .withColumn("n_lines", size(col("lines")).cast("long"))
        .withColumn("wchars",
          expr("aggregate(words, 0L, (a, w) -> a + length(w))"))
        .withColumn("n_stop",
          expr(s"CAST(size(filter(words, w -> w IN ($stopList))) AS LONG)"))
        .withColumn("n_sym", expr(
          """CAST(length(text) - length(replace(text, '#', ''))
            |  + size(filter(words, w -> w LIKE '%...%')) AS LONG)"""
            .stripMargin.replace("\n", " ")))
        .withColumn("n_bullet", expr(
          "CAST(size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS LONG)"))
        .withColumn("n_ell", expr(
          "CAST(size(filter(lines, l -> l LIKE '%...')) AS LONG)"))
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          col("n_words"),
          expr("wchars * 100 div n_words").as("mean_wlen_cpm"),
          col("n_stop"),
          expr("n_sym * 1000 div n_words").as("sym_pm"),
          expr("n_bullet * 1000 div n_lines").as("bullet_pm"),
          expr("n_ell * 1000 div n_lines").as("ellipsis_pm"))
        .withColumn("keep",
          col("n_words").between(GopherMinWords, GopherMaxWords) &&
            col("mean_wlen_cpm").between(GopherMinWlenCpm, GopherMaxWlenCpm) &&
            col("n_stop") >= GopherMinStop &&
            col("sym_pm") <= GopherMaxSymPm &&
            col("bullet_pm") <= GopherMaxBulletPm &&
            col("ellipsis_pm") <= GopherMaxEllipsisPm)

  /** The per-doc Gopher feature/decision table — shared by
    * q_quality_gopher and the composed corpus pipeline
    * (`Corpus.q_corpus_pipeline`).
    */
  private[graft] def gopherTable(s: SparkSession, d: String): DataFrame =
    gopherWide(s, d).drop("source", "text")

  /** χ²(1 df) critical value at p = 0.05 as the exact rational
    * 7683/2000 = 3.8415 — the McNemar significance bound, spelled in
    * integers so both engines decide identically.
    */
  val McNemarChi2Num = 7683L
  val McNemarChi2Den = 2000L

  /** FILTER A/B COMPARISON — McNemar's exact paired test (McNemar
    * 1947; the standard way to compare two classifiers on the SAME
    * items, here the two production quality filters: Gopher rules vs
    * the logistic model). Per source: the 2×2 agreement table (both
    * keep / gopher-only / logistic-only / both drop), the agreement
    * rate, and the McNemar statistic χ² = (b−c)²/(b+c) over the
    * DISCORDANT pairs only — published in exact milli-units with the
    * p < 0.05 verdict via cross-multiplication ([[McNemarChi2Num]]/
    * [[McNemarChi2Den]]), every operand widened to DECIMAL(38,0) so
    * source-sized counts can never overflow the square (the
    * watermark-audit lesson). Significance is LIVE both ways at
    * every SF (2/18 · 3/17 · 14/6 sources significant). Exposed over
    * ANY (source, g, l) paired table for the spec's designed drives
    * (zero-discordant, exact-boundary).
    */
  private[graft] def mcnemarOf(paired: DataFrame): DataFrame =
    paired.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g") && col("l"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("g") && !col("l"), 1L).otherwise(0L))
          .as("gopher_only"),
        sum(when(!col("g") && col("l"), 1L).otherwise(0L))
          .as("logistic_only"),
        sum(when(!col("g") && !col("l"), 1L).otherwise(0L))
          .as("both_drop"))
      .withColumn("agree_pm",
        expr("(both_keep + both_drop) * 1000 div n_docs"))
      .withColumn("discordant", col("gopher_only") + col("logistic_only"))
      .withColumn("chi2_milli",
        when(col("discordant") > 0, expr(
          """CAST(CAST(gopher_only - logistic_only AS DECIMAL(38,0))
            |  * (gopher_only - logistic_only) * 1000
            |  div discordant AS BIGINT)""".stripMargin))
          .otherwise(0L))
      .withColumn("significant",
        col("discordant") > 0 && expr(
          s"""CAST($McNemarChi2Den AS DECIMAL(38,0))
             |  * (gopher_only - logistic_only)
             |  * (gopher_only - logistic_only)
             |  > CAST($McNemarChi2Num AS DECIMAL(38,0))
             |  * discordant""".stripMargin))
      .orderBy(col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The filter A/B readout: two zero-shuffle kernel projections
    // (each filter's decision) meet in one id-width join, then one
    // map-combined source aggregate — text dies at both scans.
    "q_filter_mcnemar" -> ((s, d) => {
      val g = gopherWide(s, d)
        .select(col("doc_id"), col("source"), col("keep").as("g"))
      val l = TextOps.qualityScored(s, d)
        .select(col("doc_id"), (round(col("score"), 9) >= 0.5).as("l"))
      mcnemarOf(g.join(l, "doc_id"))
    }),

    // Gopher/MassiveText rule-based quality filter: word-count gate,
    // mean-word-length gate, symbol-to-word ratio, bullet-led and
    // ellipsis-ended line ratios, stopword floor — the standard
    // pre-model cleaning pass (Rae et al. 2021, §A1.1). Every feature
    // derives in ONE codegen'd projection per row (split + higher-
    // order filter/aggregate over the token array — no explode, no
    // shuffle, the q_text_quality discipline), and every ratio is
    // integer centi/per-mille, so both engines compute identical
    // values with no FP anywhere. The only post-scan work is the
    // publish sort.
    "q_quality_gopher" -> ((s, d) => gopherTable(s, d).orderBy(col("doc_id"))),

    // Language-ID EVALUATION — the confusion matrix of the stopword-
    // ratio detector (q_lang_guess) against the labeled lang column:
    // per (true lang, guess) counts and within-lang shares. The
    // monitoring readout a corpus pipeline keeps on its cheapest
    // classifier (is the 'en-like' detector still separating en from
    // the rest as the corpus mix drifts?). One zero-shuffle kernel
    // projection + a |langs|×2 bounded aggregate; integer per-mille;
    // fully oracled.
    "q_langid_eval" -> ((s, d) => {
      graft.functions.TextFunctions.register(s)
      val ratio = col("st.n_stop").cast("double") / col("st.n_tokens")
      val cells = Tables.documents(s, d)
        .select(col("lang"), expr("text_stats(split(text, ' '))").as("st"))
        .select(col("lang"),
          when(ratio >= 0.05, "en-like").otherwise("unknown").as("guess"))
        .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("lang")).agg(sum(col("n")).as("lang_total"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("guess"), col("n"), col("lang_total"),
          expr("n * 1000 div lang_total").as("share_pm"))
        .orderBy(col("lang"), col("guess"))
    }),

    // Kneser-Ney smoothed bigram LM scoring — the capstone of the LM
    // quality family (unigram mean-prob, bigram coherence ratio, and
    // now the properly SMOOTHED conditional model): absolute
    // discounting with continuation probabilities,
    //   p_KN(w|v) = max(c(vw)−d, 0)/c(v) + λ(v)·N1+(·w)/N1+(··),
    // d = 3/4. Every factor is INTEGER ppm arithmetic (the library
    // no-libm rule — no logs; the mean ppm orders documents exactly
    // like mean log-prob orders them under a monotone map per factor
    // mix), so both engines share the arithmetic bit-for-bit. Shape:
    // one map-combined bigram aggregate builds the model (bounded by
    // observed bigram types — the broadcast-vocabulary stance of
    // q_lm_bigram_score); the v-marginals derive from it; per-doc
    // scoring joins doc bigram counts against the model and reduces
    // to a thin doc aggregate. Fully oracled.
    "q_lm_kneser_ney" -> ((s, d) => {
      def bg = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 1),
            |  i -> struct(element_at(w, i) AS v, element_at(w, i + 1) AS nx))"""
            .stripMargin.replace("\n", " "))).as("b"))
        .select(col("doc_id"), col("b.v").as("v"), col("b.nx").as("nx"))
      // model: c(vw) per bigram type straight off the raw occurrence
      // stream — the (v, nx) exchange map-combines occurrences down to
      // the bigram-TYPE table, bounded by observed types. Checkpointed:
      // every marginal derives from it without re-scanning the corpus.
      //
      // r18 restructure (conscious re-derivation of the r14 "never
      // re-scan" trade, PlanSpec pin updated in step): the previous
      // form pre-aggregated per-doc bigram counts (dbg) and
      // checkpointed them so the corpus explode ran once. But the
      // (doc_id, v, nx) exchange carries nearly-unique string triples
      // (per-doc bigram counts are almost all 1 — map-side combine
      // reduces nothing), and the checkpoint materializes a
      // corpus-sized table into block storage at ANY scale. Scoring
      // needs only Σ p over occurrences, so the occurrence stream can
      // join the broadcast-gated model DIRECTLY (map-side) and reduce
      // straight to the thin per-doc aggregate: mean = Σcnt·p div Σcnt
      // ≡ Σ_occurrences p div n — the same integers bit for bit. The
      // trade: one extra PRUNED corpus scan+explode (§8: re-scanning
      // columnar input is cheap, shuffling or storing corpus-sized
      // intermediates is not) for one fewer corpus-sized exchange and
      // no corpus-sized checkpoint. Measured at sf0.1 (`Tools work`):
      // executor CPU 1.59 → 0.78 s/trial, shuffle 4.93 → 0.17 MB,
      // shuffled rows 270k → 11k; bench min 1.61 → 1.30 s isolated.
      // Oracle unchanged.
      val m = bg.groupBy(col("v"), col("nx")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val vMarg = m.groupBy(col("v"))
        .agg(sum(col("c")).as("cv"), count(lit(1)).as("n1v"))
      val wMarg = m.groupBy(col("nx")).agg(count(lit(1)).as("n1w"))
      val n1all = m.agg(count(lit(1)).as("n1all"))
      val p = m.join(vMarg, "v").join(wMarg, "nx")
        .crossJoin(broadcast(n1all))
        .selectExpr("v", "nx",
          "greatest(c * 1000000 - 750000, 0L) div cv AS t1_ppm",
          "750000 * n1v div cv AS lam_ppm",
          "n1w * 1000000 div n1all AS pc_ppm")
        .selectExpr("v", "nx",
          "t1_ppm + lam_ppm * pc_ppm div 1000000 AS p_ppm")
      // measured-size broadcast gate (the q_collocations `dict` rule):
      // the model is bigram-type-bounded; when it outgrows the gate at
      // corpus scale the join falls back to the shuffle the previous
      // form paid anyway — never worse, map-side when it matters
      val modelRows = m.count()
      val dict = if (modelRows <= 4L * 1000 * 1000) broadcast(p) else p
      bg.join(dict, Seq("v", "nx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_ppm) div count(1)").as("mean_pkn_ppm"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-shaped domain-importance weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // each document by how much more its unigrams look like the
    // TARGET domain (here: the English slice) than the raw corpus.
    // DSIR's log-likelihood ratio is replaced by the LINEAR ppm
    // difference Σ cnt(w)·(p_target(w) − p_raw(w)) — the library
    // no-libm rule (the q_bm25 precedent): same ordering signal for
    // resampling, exact integer arithmetic in both engines.
    //
    // Shape: ONE exploded-token aggregate builds the vocabulary with
    // per-domain counts (map-combined, token-keyed — the corpus's one
    // thin shuffle); the ppm-weight table is vocabulary-bounded and —
    // when a measured size gate allows — broadcasts back into the
    // per-doc token counts, whose weighted
    // sum is a thin doc_id aggregate. Nothing after the token agg
    // scales with corpus size; at 100 TB the vocab table is the same
    // written artifact the coverage/topk operators share.
    // CORPUS DATASHEET — the one-page dataset documentation card
    // ("Datasheets for Datasets", Gebru et al. 2021) a training-data
    // release ships: document and token counts, exact duplicate
    // burden (docs carrying a non-unique payload fingerprint),
    // Gopher-rule keep rate, and language/source concentration as
    // integer-ppm Simpson indices (the rational entropy twin — the
    // library's no-libm diversity measure, q_doc_diversity's
    // corpus-level sibling). Every row composes an already-oracled
    // standalone measurement, so the card itself is FULLY ORACLED.
    // Shape: three map-combined corpus aggregates (base counts,
    // Gopher keeps, per-group counts ×2), each collapsing to ≤
    // |groups| rows before any join; the published table is 7 rows.
    // Simpson numerators ride DECIMAL(38,0) so nothing wraps at
    // 100 TB row counts.
    "q_corpus_datasheet" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("source"), col("text"))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        countDistinct(md5(col("text").cast("binary"))).as("n_fp"))
        .localCheckpoint()
      val keeps = gopherTable(s, d)
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      def simpson(keyCol: String, name: String) =
        docs.groupBy(col(keyCol)).agg(count(lit(1)).as("n_g"))
          // cast BEFORE the multiply: a BIGINT·BIGINT square wraps for
          // per-group counts past ~3e9 (a 100 TB corpus's biggest lang
          // group is bigger); DECIMAL(38,0)·BIGINT matches the
          // oracle's HUGEINT arithmetic exactly
          .agg(sum(col("n_g").cast("decimal(38,0)") * col("n_g"))
              .as("sq"),
            sum(col("n_g")).cast("decimal(38,0)").as("nn"))
          .select(lit(name).as("metric"),
            expr("CAST(sq * 1000000 div (nn * nn) AS BIGINT)")
              .as("value"))
      base.select(lit("m01_n_docs").as("metric"),
          col("n_docs").as("value"))
        .unionAll(base.select(lit("m02_n_tokens"), col("n_tokens")))
        .unionAll(base.select(lit("m03_mean_doc_tokens_cpm"),
          expr("n_tokens * 100 div n_docs")))
        .unionAll(base.select(lit("m04_dup_docs"),
          col("n_docs") - col("n_fp")))
        .unionAll(base.crossJoin(broadcast(keeps))
          .select(lit("m05_gopher_keep_pm"),
            expr("n_keep * 1000 div n_docs")))
        .unionAll(simpson("lang", "m06_lang_simpson_ppm"))
        .unionAll(simpson("source", "m07_source_simpson_ppm"))
        .orderBy(col("metric"))
    }),

    // STREAMING-OBSERVABILITY twin of the corpus datasheet: the same
    // card maintained INCREMENTALLY from mergeable per-batch partials
    // (the q_hll_partial_union / q_moments_merge layout family) so an
    // ingest stream updates it per micro-batch instead of rescanning
    // the corpus. The partial layout is one map-combined aggregate
    // per ingest batch — a row per (batch, lang, source) cell carrying
    // sums (docs, tokens, gopher keeps) and an HLL sketch of the doc
    // fingerprints; every datasheet metric then derives from the
    // ≤ batches·|langs|·|sources| partial rows: sums merge by
    // addition, the duplicate burden by the native HLL union (the one
    // metric that goes approximate — exact distinct is the only
    // non-mergeable-in-O(1) datasheet ingredient, the same trade
    // q_profile_table_approx documents), Simpson marginals by summing
    // cells. A foreachBatch sink upserts exactly these partial rows at
    // 100 TB; the merge query stays metadata-sized forever. Rows-only
    // (sketch lineage); DatasheetPartialsSpec pins every exact metric
    // EQUAL to the batch datasheet and the dup estimate within ±5%.
    "q_datasheet_partials" -> ((s, d) =>
      datasheetMetrics(datasheetPartials(s, d))
        .orderBy(col("metric"))),

    "q_dsir_weights" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("token"))
      // localCheckpoint: the vocabulary is bounded, and both the
      // totals row and the weight table derive from it — without the
      // checkpoint Catalyst would re-run the corpus-wide token
      // aggregate once per consumer (2× the pipeline's only big scan)
      val vocab = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("r_cnt"),
          count(when(col("lang") === "en", 1)).as("t_cnt"))
        .localCheckpoint()
      val tot = vocab.agg(sum(col("r_cnt")).as("r_tot"),
        sum(col("t_cnt")).as("t_tot"))
      val w = vocab.crossJoin(broadcast(tot))
        .select(col("token"),
          (expr("t_cnt * 1000000 div t_tot") -
            expr("r_cnt * 1000000 div r_tot")).as("w_ppm"))
      val docTok = tok.groupBy(col("doc_id"), col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      // Broadcast GATED on measured vocabulary size (the Bpe.scala
      // dictionary-join rule): a web corpus's space-split vocabulary
      // is 1e8–1e9 distinct tokens, and an unconditional hint there
      // forces an over-threshold broadcast and an executor OOM. The
      // count is one map-combined aggregate over the already-
      // checkpointed vocabulary; above the bound the hint disappears
      // and AQE picks the join strategy from runtime sizes.
      val vocabRows = vocab.count()
      val wDict = if (vocabRows <= 4L * 1000 * 1000) broadcast(w) else w
      docTok.join(wDict, "token")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("w_ppm")).as("score"))
        .orderBy(col("doc_id"))
    }),

    // Gopher REPETITION rules (Rae et al. 2021, §A1.1's other half —
    // q_quality_gopher covers the word/symbol/bullet gates, this the
    // within-document repetition gates a spam/template filter needs):
    // duplicate-line fraction and duplicate-line CHARACTER fraction
    // (array_distinct deltas), top-bigram share (the most frequent
    // 2-gram's share of all 2-grams), and duplicate-5-gram fraction.
    // Everything is ONE codegen'd projection per row — the bigram
    // mode comes from a sort_array + runtime aggregate() fold over
    // runs (the Viterbi-fold discipline), NOT a per-gram explode, so
    // the operator is ZERO-shuffle at any corpus size and no gram
    // string ever leaves its row. All-integer per-mille. The line
    // cuts are Rae et al.'s published fractions (dup lines ≤ 30%,
    // dup line CHARS ≤ 20%); the gram cuts (top 2-gram ≤ 20%, dup
    // 5-grams ≤ 15%) use gram COUNTS where the paper uses gram
    // CHARACTER fractions — count-based per-mille approximations of
    // the same rules, kept integer so both engines agree exactly.
    // Fully oracled (the DuckDB side may use the simpler unnest+group
    // form — the values are definitionally equal).
    "q_quality_repetition" -> ((s, d) => {
      // all eight per-doc counts in ONE codegen'd kernel call
      // (functions.RepetitionStats): the original declarative
      // composition (gram transform + array_distinct + sort_array +
      // runtime folds) evaluated its higher-order lambdas interpreted
      // per element — measured 2.40 -> ~0.5 s at sf0.1, same bytes
      // (the oracle and the raw-text replay spec are unchanged)
      graft.functions.TextFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("repetition_stats(split(text, '\\n'), split(text, ' '))")
            .as("st"))
        .select(col("doc_id"),
          col("st.n_lines").as("n_lines"),
          col("st.d_lines").as("d_lines"),
          col("st.line_chars").as("line_chars"),
          col("st.d_line_chars").as("d_line_chars"),
          col("st.n_big").as("n_big"),
          col("st.max_c2").as("max_c2"),
          col("st.n_5").as("n_5"),
          col("st.d_5").as("d_5"))
        .select(col("doc_id"), col("n_lines"),
          expr("(n_lines - d_lines) * 1000 div n_lines").as("dup_line_pm"),
          expr("""CASE WHEN line_chars > 0
            |  THEN (line_chars - d_line_chars) * 1000 div line_chars
            |  ELSE 0L END""".stripMargin).as("dup_line_chars_pm"),
          expr("CASE WHEN n_big > 0 THEN max_c2 * 1000 div n_big ELSE 0L END")
            .as("top2_pm"),
          expr("CASE WHEN n_5 > 0 THEN (n_5 - d_5) * 1000 div n_5 ELSE 0L END")
            .as("dup5_pm"))
        .withColumn("keep",
          col("dup_line_pm") <= 300L && col("dup_line_chars_pm") <= 200L &&
            col("top2_pm") <= 200L && col("dup5_pm") <= 150L)
        .orderBy(col("doc_id"))
    })
  )

  /** The Gopher per-doc decision SQL (no ORDER BY) — shared by the
    * q_quality_gopher oracle and the composed pipeline oracle.
    */
  private[graft] val gopherSql: String =
      s"""WITH f AS (
         |  SELECT doc_id, lang,
         |    string_split(text, ' ') AS words,
         |    string_split(text, chr(10)) AS lines,
         |    length(text) - length(replace(text, '#', '')) AS n_hash
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(words) AS BIGINT) AS n_words,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(list_sum(list_transform(words, w -> length(w)))
         |      AS BIGINT) AS wchars,
         |    CAST(len(list_filter(words, w -> w IN ($stopList)))
         |      AS BIGINT) AS n_stop,
         |    CAST(n_hash + len(list_filter(words, w -> w LIKE '%...%'))
         |      AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(lines,
         |      l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(lines, l -> l LIKE '%...'))
         |      AS BIGINT) AS n_ell
         |  FROM f),
         |r AS (
         |  SELECT doc_id, lang, n_words,
         |    wchars * 100 // n_words AS mean_wlen_cpm, n_stop,
         |    n_sym * 1000 // n_words AS sym_pm,
         |    n_bullet * 1000 // n_lines AS bullet_pm,
         |    n_ell * 1000 // n_lines AS ellipsis_pm
         |  FROM m)
         |SELECT doc_id, lang, n_words, mean_wlen_cpm, n_stop, sym_pm,
         |  bullet_pm, ellipsis_pm,
         |  (n_words BETWEEN $GopherMinWords AND $GopherMaxWords
         |    AND mean_wlen_cpm BETWEEN $GopherMinWlenCpm AND $GopherMaxWlenCpm
         |    AND n_stop >= $GopherMinStop
         |    AND sym_pm <= $GopherMaxSymPm
         |    AND bullet_pm <= $GopherMaxBulletPm
         |    AND ellipsis_pm <= $GopherMaxEllipsisPm) AS keep
         |FROM r""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_quality_gopher" -> s"$gopherSql ORDER BY doc_id",
    // the two filter decisions as subqueries (a WITH inside a
    // derived table is valid DuckDB), paired by doc_id; the 2x2,
    // chi-square milli-units and the cross-multiplied p<0.05 verdict
    // mirror mcnemarOf column-for-column
    "q_filter_mcnemar" ->
      s"""WITH gt AS (SELECT doc_id, keep FROM ($gopherSql) g0),
         |lt AS (SELECT doc_id, round(score, 9) >= 0.5 AS l
         |       FROM (${TextOps.qualityScoredSql}) q0),
         |pj AS (
         |  SELECT d.source, gt.keep AS g, lt.l
         |  FROM documents d
         |  JOIN gt USING (doc_id) JOIN lt USING (doc_id)),
         |mm AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN g AND l THEN 1 ELSE 0 END) AS BIGINT)
         |      AS both_keep,
         |    CAST(sum(CASE WHEN g AND NOT l THEN 1 ELSE 0 END) AS BIGINT)
         |      AS gopher_only,
         |    CAST(sum(CASE WHEN NOT g AND l THEN 1 ELSE 0 END) AS BIGINT)
         |      AS logistic_only,
         |    CAST(sum(CASE WHEN NOT g AND NOT l THEN 1 ELSE 0 END)
         |      AS BIGINT) AS both_drop
         |  FROM pj GROUP BY source)
         |SELECT source, n_docs, both_keep, gopher_only, logistic_only,
         |  both_drop,
         |  (both_keep + both_drop) * 1000 // n_docs AS agree_pm,
         |  gopher_only + logistic_only AS discordant,
         |  CASE WHEN gopher_only + logistic_only > 0 THEN
         |    CAST(CAST(gopher_only - logistic_only AS HUGEINT)
         |      * (gopher_only - logistic_only) * 1000
         |      // (gopher_only + logistic_only) AS BIGINT)
         |  ELSE 0 END AS chi2_milli,
         |  gopher_only + logistic_only > 0 AND
         |    CAST($McNemarChi2Den AS HUGEINT)
         |      * (gopher_only - logistic_only)
         |      * (gopher_only - logistic_only)
         |    > CAST($McNemarChi2Num AS HUGEINT)
         |      * (gopher_only + logistic_only) AS significant
         |FROM mm ORDER BY source""".stripMargin,
    // the mode comes from the plain unnest+group form here — equal by
    // definition to the Spark side's sorted-run fold
    "q_quality_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |    string_split(text, ' ') AS words
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_distinct(lines)) AS BIGINT) AS d_lines,
        |    -- CHARS-intended: the RepetitionStats kernel counts numChars()
        |    CAST(list_sum(list_transform(lines, x -> length(x)))
        |      AS BIGINT) AS line_chars,
        |    CAST(coalesce(list_sum(list_transform(list_distinct(lines),
        |      x -> length(x))), 0) AS BIGINT) AS d_line_chars,
        |    CAST(greatest(len(words) - 1, 0) AS BIGINT) AS n_big,
        |    CAST(greatest(len(words) - 4, 0) AS BIGINT) AS n_5
        |  FROM base),
        |big AS (
        |  SELECT doc_id, max(c) AS max_c2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, words[i] || ' ' || words[i + 1] AS g
        |      FROM (SELECT doc_id, words,
        |              unnest(generate_series(1, len(words) - 1)) AS i
        |            FROM base WHERE len(words) >= 2) t) u
        |    GROUP BY doc_id, g) v
        |  GROUP BY doc_id),
        |five AS (
        |  SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS d_5 FROM (
        |    SELECT doc_id, words[i] || ' ' || words[i + 1] || ' ' ||
        |      words[i + 2] || ' ' || words[i + 3] || ' ' || words[i + 4] AS g
        |    FROM (SELECT doc_id, words,
        |            unnest(generate_series(1, len(words) - 4)) AS i
        |          FROM base WHERE len(words) >= 5) t) u
        |  GROUP BY doc_id),
        |r AS (
        |  SELECT f.doc_id, f.n_lines,
        |    (f.n_lines - f.d_lines) * 1000 // f.n_lines AS dup_line_pm,
        |    CASE WHEN f.line_chars > 0
        |      THEN (f.line_chars - f.d_line_chars) * 1000 // f.line_chars
        |      ELSE 0 END AS dup_line_chars_pm,
        |    CASE WHEN f.n_big > 0
        |      THEN coalesce(b.max_c2, 0) * 1000 // f.n_big
        |      ELSE 0 END AS top2_pm,
        |    CASE WHEN f.n_5 > 0
        |      THEN (f.n_5 - coalesce(v.d_5, f.n_5)) * 1000 // f.n_5
        |      ELSE 0 END AS dup5_pm
        |  FROM feat f LEFT JOIN big b ON f.doc_id = b.doc_id
        |  LEFT JOIN five v ON f.doc_id = v.doc_id)
        |SELECT doc_id, n_lines, CAST(dup_line_pm AS BIGINT) AS dup_line_pm,
        |  CAST(dup_line_chars_pm AS BIGINT) AS dup_line_chars_pm,
        |  CAST(top2_pm AS BIGINT) AS top2_pm,
        |  CAST(dup5_pm AS BIGINT) AS dup5_pm,
        |  (dup_line_pm <= 300 AND dup_line_chars_pm <= 200
        |    AND top2_pm <= 200 AND dup5_pm <= 150) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_corpus_datasheet" ->
      s"""WITH base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_fp
         |  FROM documents),
         |g AS ($gopherSql),
         |k AS (
         |  SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keep FROM g),
         |ls AS (
         |  SELECT CAST(sum(CAST(n_g AS HUGEINT) * n_g) * 1000000
         |    // (sum(CAST(n_g AS HUGEINT)) * sum(CAST(n_g AS HUGEINT)))
         |    AS BIGINT) AS v
         |  FROM (SELECT count(*) AS n_g FROM documents GROUP BY lang) t),
         |ss AS (
         |  SELECT CAST(sum(CAST(n_g AS HUGEINT) * n_g) * 1000000
         |    // (sum(CAST(n_g AS HUGEINT)) * sum(CAST(n_g AS HUGEINT)))
         |    AS BIGINT) AS v
         |  FROM (SELECT count(*) AS n_g FROM documents GROUP BY source) t)
         |SELECT metric, value FROM (
         |  SELECT 'm01_n_docs' AS metric, n_docs AS value FROM base
         |  UNION ALL SELECT 'm02_n_tokens', n_tokens FROM base
         |  UNION ALL SELECT 'm03_mean_doc_tokens_cpm',
         |    n_tokens * 100 // n_docs FROM base
         |  UNION ALL SELECT 'm04_dup_docs', n_docs - n_fp FROM base
         |  UNION ALL SELECT 'm05_gopher_keep_pm',
         |    k.n_keep * 1000 // b.n_docs FROM k, base b
         |  UNION ALL SELECT 'm06_lang_simpson_ppm', v FROM ls
         |  UNION ALL SELECT 'm07_source_simpson_ppm', v FROM ss) u
         |ORDER BY metric""".stripMargin,
    "q_langid_eval" ->
      s"""WITH g AS (
         |  SELECT lang,
         |    CASE WHEN CAST(len(list_filter(string_split(text, ' '),
         |        w -> w IN ($stopList))) AS DOUBLE)
         |        / len(string_split(text, ' ')) >= 0.05
         |      THEN 'en-like' ELSE 'unknown' END AS guess
         |  FROM documents),
         |cells AS (SELECT lang, guess, count(*) AS n FROM g GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
         |  FROM cells GROUP BY 1)
         |SELECT c.lang, c.guess, c.n, t.lang_total,
         |  c.n * 1000 // t.lang_total AS share_pm
         |FROM cells c JOIN tot t USING (lang)
         |ORDER BY c.lang, c.guess""".stripMargin,
    "q_lm_kneser_ney" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS v, w[i + 1] AS nx
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(1, len(w) - 1)) AS i FROM w) t),
        |dbg AS (
        |  SELECT doc_id, v, nx, count(*) AS cnt FROM bg GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT v, nx, CAST(sum(cnt) AS BIGINT) AS c FROM dbg GROUP BY 1, 2),
        |vm AS (
        |  SELECT v, CAST(sum(c) AS BIGINT) AS cv, count(*) AS n1v
        |  FROM m GROUP BY 1),
        |wm AS (SELECT nx, count(*) AS n1w FROM m GROUP BY 1),
        |na AS (SELECT count(*) AS n1all FROM m),
        |p AS (
        |  SELECT m.v, m.nx,
        |    greatest(m.c * 1000000 - 750000, 0) // vm.cv
        |      + (750000 * vm.n1v // vm.cv) * (wm.n1w * 1000000 // na.n1all)
        |        // 1000000 AS p_ppm
        |  FROM m JOIN vm USING (v) JOIN wm USING (nx) CROSS JOIN na)
        |SELECT dbg.doc_id,
        |  CAST(sum(dbg.cnt) AS BIGINT) AS n_bigrams,
        |  CAST(sum(dbg.cnt * p.p_ppm) // sum(dbg.cnt) AS BIGINT)
        |    AS mean_pkn_ppm
        |FROM dbg JOIN p ON dbg.v = p.v AND dbg.nx = p.nx
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token, count(*) AS r_cnt,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS t_cnt
        |  FROM tok GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(r_cnt) AS BIGINT) AS r_tot,
        |    CAST(sum(t_cnt) AS BIGINT) AS t_tot FROM vocab),
        |w AS (
        |  SELECT token,
        |    t_cnt * 1000000 // t_tot - r_cnt * 1000000 // r_tot AS w_ppm
        |  FROM vocab, tot),
        |dt AS (
        |  SELECT doc_id, lang, token, count(*) AS cnt
        |  FROM tok GROUP BY 1, 2, 3)
        |SELECT dt.doc_id, dt.lang,
        |  CAST(sum(dt.cnt) AS BIGINT) AS n_tokens,
        |  CAST(sum(dt.cnt * w.w_ppm) AS BIGINT) AS score
        |FROM dt JOIN w USING (token)
        |GROUP BY 1, 2 ORDER BY dt.doc_id""".stripMargin
  )
}
