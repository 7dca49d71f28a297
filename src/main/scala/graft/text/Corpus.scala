package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-assembly operators: the stages that turn a cleaned document
  * pool into a training corpus — benchmark decontamination, sequence
  * packing, deterministic shuffling, mixture sampling, and length
  * profiling.
  *
  * Shared design rule: every randomized-looking decision (shuffle
  * order, sample keep/drop) derives from a content/key hash, never an
  * RNG — so results are reproducible across engines, partitionings and
  * retries, which is what makes them oracle-able here and re-runnable
  * on a 1000-executor cluster.
  */
object Corpus {

  /** md5-derived integer in [0, m) from an expression — the same
    * construction (and byte range) on the DuckDB side gives exact
    * parity. `off` selects independent hash streams from one digest.
    */
  private def hashBucket(c: Column, off: Int, m: Int): Column =
    pmod(conv(substring(md5(c.cast("binary")), off, 4), 16, 10)
      .cast("long"), lit(m.toLong))

  /** Deterministic shuffle shard count (q_corpus_shuffle). Sized like a
    * cluster's task parallelism, not a constant handful: at 100 TB each
    * shard's window partition is corpus/4096, so no single task ever
    * sorts more than ~0.025% of the corpus. Positions stay a pure
    * function of doc_id at any shard count; the DuckDB oracle uses the
    * same constant.
    */
  val ShuffleShards = 4096

  /** q_span_corruption mask rate, per-mille (T5's default is 15%). */
  val MaskPm = 150

  /** Docs per prefix-sum sub-shard (q_seq_pack / q_quantile_bucket).
    * `doc_id div SubShardDocs` is monotone in doc_id, so ordering by
    * (sub, doc_id) equals ordering by doc_id — which is what lets a
    * per-source running sum split into bounded-size window partitions.
    * Test-scale value keeps several sub-shards per source at sf0.01; at
    * cluster scale it is the target rows-per-task (e.g. 2^20).
    */
  val SubShardDocs = 64L

  /** Per-source reservoir budget for q_reservoir_sample. */
  val ReservoirK = 20L

  /** q_shard_export per-shard token target. Test-scale value yields a
    * handful of shards at sf0.001 and tens at sf0.01 so the manifest
    * and the file-count law are exercised; a deployment sets the
    * 100 MB–1 GB-of-tokens shard a training loader actually wants —
    * the shard count, not this constant, is what scales (ceil of
    * corpus tokens over the budget, the q_compact_files law).
    */
  val ShardTokenBudget = 8192L

  /** The shard-count law as an oracle CTE — ⌈sum(tokenCol) / budget⌉
    * floored at 1, the SQL mirror of [[withDerivedShard]]'s 1-row
    * aggregate. One definition site for every exporter oracle (text /
    * wrapped / SFT / multimodal / RL), so a budget or law change
    * propagates to all of them at once.
    */
  private[graft] def nshSql(tokenCol: String, from: String): String =
    s"""nsh AS (
       |  SELECT CAST(GREATEST(1,
       |    (sum($tokenCol) + ${ShardTokenBudget - 1}) // $ShardTokenBudget)
       |    AS BIGINT) AS n
       |  FROM $from)""".stripMargin

  /** The packed-sequence table (doc_id, source, n_tok, running, bin) —
    * q_seq_pack's body, shared with the shard exporter. Two-phase
    * distributed prefix sum; see the q_seq_pack comment.
    */
  private[graft] def seqPacked(s: SparkSession, d: String): DataFrame =
    seqPackedOf(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok")))

  /** The two-phase prefix-sum packing over ANY (doc_id, source, n_tok)
    * table — exposed so specs can drive multi-bin synthetic corpora
    * through the exact production arithmetic.
    */
  private[graft] def seqPackedOf(docs0: DataFrame,
      binTokens: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docs0
      .withColumn("sub", expr(s"doc_id div $SubShardDocs"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("source"), col("sub"))
      .agg(sum(col("n_tok")).as("sub_tok"))
      .withColumn("off", coalesce(sum(col("sub_tok")).over(wOff), lit(0L)))
      .select(col("source"), col("sub"), col("off"))
    val wLoc = Window.partitionBy(col("source"), col("sub"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs.join(broadcast(offsets), Seq("source", "sub"))
      .withColumn("running", col("off") + sum(col("n_tok")).over(wLoc))
      .withColumn("bin", expr(s"(running - n_tok) div $binTokens"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("running"), col("bin"))
  }

  /** Shard-assigned packed rows BEFORE the layout write — exposed so
    * the plan spec can pin the payload discipline (text collapses to
    * n_tok below every exchange) and the single hash repartition.
    * shard = 48-bit md5 prefix of the (source, bin) sequence key mod
    * the shard count, so WHOLE training sequences land in one shard
    * and the assignment is a pure function of (documents, budget) —
    * which is what makes the manifest fully oracle-able.
    */
  private[graft] def shardAssigned(s: SparkSession, d: String,
      nShards: Int): DataFrame =
    seqPacked(s, d)
      .withColumn("shard",
        pmod(conv(substring(md5(concat(col("source"), lit(":"),
            col("bin").cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("long"), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))

  /** The shard-count law (⌈corpus tokens / ShardTokenBudget⌉, floored
    * at 1) as a broadcast 1-row aggregate over any token-count column
    * — the Graph.scala pagerank 1/n pattern (round-12 verdict item 5):
    * the count joins back as a COLUMN, so shard assignment is one
    * dataflow with no driver-side action. `repartition(col("shard"))`
    * hash-partitions on the shard VALUE, so every shard still lands
    * wholly in one task and the partitioned write keeps the
    * one-file-per-occupied-shard law (ShardExportSpec pins it) without
    * the partition COUNT ever surfacing on the driver.
    */
  private[graft] def withDerivedShard(rows: DataFrame, tokenCol: String,
      tokenSource: DataFrame): DataFrame = {
    val nsh = tokenSource.agg(greatest(lit(1L),
      expr(s"(sum($tokenCol) + ${ShardTokenBudget - 1}) div " +
        s"$ShardTokenBudget")).as("nsh"))
    rows.crossJoin(broadcast(nsh))
      .withColumn("shard",
        pmod(conv(substring(md5(concat(col("source"), lit(":"),
            col("bin").cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("long"), col("nsh")))
      .drop("nsh")
      .repartition(col("shard"))
  }

  /** The write-once training-shard layout, partitioned by shard —
    * the artifact a training job's data loader consumes. The shard
    * count derives from corpus tokens at build time (one 1-row
    * aggregate; the q_compact_files rows-per-file precedent) and each
    * shard is written by exactly one task, so files-on-disk ==
    * occupied shards (ShardExportSpec pins it).
    */
  private[graft] def shardLayout(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "train_shards",
        partitionCols = Seq("shard")) {
      val packed = seqPacked(s, d)
      withDerivedShard(packed, "n_tok", packed)
    }

  /** q_niah_build grid: context lengths × needle depths (per-mille of
    * the insert range) × replicates per length — 3·5·4 = 60 eval
    * examples, a BOUNDED eval set by design at any corpus size.
    * Test-scale lengths; a deployment sets 4k–1M and the ladder, not
    * the constants, is the law.
    */
  val NiahLens: Seq[Long] = Seq(512L, 1024L, 2048L)
  val NiahDepthsPm: Seq[Long] = Seq(0L, 250L, 500L, 750L, 1000L)
  val NiahReps = 4L

  /** Haystack pool: the first [[NiahPoolDocs]] docs by id — the
    * doc_id predicate reaches the parquet scan, so eval construction
    * reads a CONSTANT number of documents no matter the corpus size.
    * Covering the full grid needs pool tokens ≥ NiahReps ×
    * max(NiahLens) = 8,192, i.e. a ≥ 32-token AVERAGE over the 256
    * docs — the driver corpora average ~54 (measured 13.7k–14.3k pool
    * tokens at every SF). The builder is defensive anyway: a window
    * short of exactly L tokens is DROPPED, never rendered sub-L
    * (both engines filter len(win) = L), and NiahSpec pins the grid
    * complete at test SFs.
    */
  val NiahPoolDocs = 256L

  /** The fixed 7-token needle: needle key <k> holds value <v> end. */
  val NiahNeedleLen = 7L

  /** The NIAH example builder over ANY (doc_id, toks, n_tok) pool —
    * exposed for the spec's synthetic drive and replay. Law: per
    * context length L, the pool packs into exact-L token windows
    * (the wrap-pack zero-spill law at bin size L); window `rep` is
    * bin rep < [[NiahReps]]. Per (L, depth, rep): the needle — a
    * deterministic 7-token fact whose key/answer derive from
    * md5(L:depth:rep) — REPLACES the 7 window tokens at
    * insert_pos = (L−7)·depth/1000, so the rendered context stays
    * exactly L tokens at every depth. Published as fingerprints +
    * the answer a grader checks — the whole example set is a pure
    * function of (corpus, grid), identical in both engines.
    */
  private[graft] def niahOf(pool: DataFrame): DataFrame = {
    val wins = NiahLens.map { l =>
      val packed = seqPackedOf(pool.select(col("doc_id"),
        lit("all").as("source"), col("n_tok")), binTokens = l)
      wrapPackedOf(packed, binTokens = l)
        .filter(col("bin") < NiahReps)
        .join(pool.select(col("doc_id"), col("toks")), "doc_id")
        .select(col("bin"), struct(col("doc_id"),
          expr("slice(toks, CAST(seg_off + 1 AS INT), CAST(seg_tokens AS INT))")
            .as("seg")).as("ds"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          flatten(expr("transform(array_sort(collect_list(ds)), x -> x.seg)"))
            .as("win"))
        // defensive exact-L law: a pool too small to fill a window
        // drops the cell rather than rendering a sub-L context
        .filter(expr(s"size(win) = $l"))
        .select(lit(l).as("ctx_len"), col("bin").as("rep"),
          col("n_docs"), col("win"))
    }.reduce(_ unionAll _)
    wins
      .select(col("ctx_len"), col("rep"), col("n_docs"), col("win"),
        explode(array(NiahDepthsPm.map(lit(_)): _*)).as("depth_pm"))
      .withColumn("insert_pos",
        expr(s"(ctx_len - $NiahNeedleLen) * depth_pm div 1000"))
      .withColumn("key", substring(md5(concat(
        col("ctx_len").cast("string"), lit(":"),
        col("depth_pm").cast("string"), lit(":"),
        col("rep").cast("string")).cast("binary")), 1, 8))
      .withColumn("answer",
        conv(substring(md5(col("key").cast("binary")), 1, 4), 16, 10)
          .cast("long") % 1000)
      .withColumn("needle", expr(
        "array('needle', 'key', key, 'holds', 'value', " +
          "CAST(answer AS STRING), 'end')"))
      .withColumn("render", expr(
        s"""concat(slice(win, 1, CAST(insert_pos AS INT)), needle,
           |  slice(win, CAST(insert_pos + $NiahNeedleLen + 1 AS INT),
           |    CAST(ctx_len - insert_pos - $NiahNeedleLen AS INT)))"""
          .stripMargin.replace("\n", " ")))
      .select(col("ctx_len"), col("depth_pm"), col("rep"), col("n_docs"),
        col("insert_pos"), col("key"), col("answer"),
        md5(concat_ws(" ", col("win")).cast("binary")).as("haystack_fp"),
        md5(concat_ws(" ", col("render")).cast("binary")).as("render_fp"))
  }

  private[graft] def niahPool(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < NiahPoolDocs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))

  /** The end-to-end pipeline KEEP SET: one representative per
    * near-dup cluster (q_dedup_apply's law — largest doc, doc_id
    * tiebreak — over the shared written cluster-label layout)
    * intersected with the Gopher rule keep set (q_quality_gopher's
    * law). This is the corpus a pre-training job actually packs after
    * cleaning; every column in the dataflow is id-width (doc_id,
    * n_chars, the boolean) — no payload ever enters.
    */
  private[graft] def pipelineSurvivors(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.clusterReps(s, d)
      .select(col("rep").as("doc_id"))
      .join(Quality.gopherTable(s, d).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "leftsemi")

  /** The packed SURVIVOR corpus behind q_pipeline_export: the shared
    * two-phase prefix-sum packing over the pipeline keep set. Token
    * counts collapse at the scan projection (text → n_tok BEFORE the
    * keep-set join), so the join and everything above it move only
    * (doc_id, source, n_tok).
    */
  private[graft] def pipelinePacked(s: SparkSession, d: String): DataFrame =
    seqPackedOf(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(pipelineSurvivors(s, d), Seq("doc_id"), "leftsemi"))

  /** The wrapped-packing segment table (doc_id, source, bin, seg_off,
    * seg_tokens) — q_pack_wrap's body, shared with the wrapped shard
    * exporter. A document straddling a 2048-token bin boundary SPLITS
    * at the boundary, so every bin except each source's last holds
    * exactly 2048 tokens (zero spill). Pure integer interval math over
    * seqPacked's two-phase prefix sum; bounded explode.
    */
  private[graft] def wrapPacked(s: SparkSession, d: String): DataFrame =
    wrapPackedOf(seqPacked(s, d))

  /** The wrap/split interval math over ANY seqPacked-shaped table. */
  private[graft] def wrapPackedOf(packed: DataFrame,
      binTokens: Long = 2048L): DataFrame =
    packed
      // n_tok >= 1 invariant, enforced rather than assumed: for a
      // 0-token row Spark's sequence(a, a-1) would yield a DESCENDING
      // 2-element array where DuckDB's generate_series yields the
      // empty set — the filter makes both engines agree by
      // construction even if tokenization ever changes
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("running") - col("n_tok")).as("s0"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("s0"),
        explode(expr(
          s"sequence(s0 div $binTokens, (s0 + n_tok - 1) div $binTokens)"))
          .as("bin"))
      .select(col("doc_id"), col("source"), col("bin"),
        (greatest(col("s0"), col("bin") * binTokens) - col("s0"))
          .as("seg_off"),
        (least(col("s0") + col("n_tok"), (col("bin") + 1) * binTokens) -
          greatest(col("s0"), col("bin") * binTokens)).as("seg_tokens"))

  /** The wrapped-packing training-shard layout — the export path a
    * trainer should actually consume: q_shard_export's layout ships
    * the OVERFILLING q_seq_pack packing (whose spill
    * q_pack_efficiency measures); this one ships q_pack_wrap's
    * zero-spill segments. Same shard law (count = ⌈corpus tokens /
    * ShardTokenBudget⌉ — wrapped packing conserves tokens, so the
    * derived count is identical), same whole-sequence hashing (a
    * (source, bin) training sequence never splits across shard
    * files; its SEGMENTS travel together), same one hash repartition.
    */
  private[graft] def wrapShardLayout(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "train_shards_wrapped",
        partitionCols = Seq("shard")) {
      // wrapped packing conserves tokens (Σ seg_tokens = Σ n_tok), so
      // the derived count — and with it every shard assignment — is
      // identical to the flat exporter's
      val wp = wrapPacked(s, d)
      withDerivedShard(wp, "seg_tokens", wp)
    }

  /** FIM apply rate (per mille): ~half the corpus is transformed —
    * the published FIM-rate sweet spot (Bavarian et al. 2022 train at
    * 0.5 with no loss on left-to-right capability).
    */
  val FimRatePm = 500L

  /** Chunking window/stride (tokens): 32-token chunks advancing by
    * 24, so adjacent chunks overlap by 8 — test-scale stand-ins
    * (corpus docs run 10–100 tokens, so these genuinely multi-chunk
    * most documents) for the 512/384-class values a production RAG
    * splitter uses; the chunk-count law, not the constants, is what
    * scales.
    */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** q_token_budget total training-token budget. A knob, not a scale
    * parameter: the planner's cost is one per-source aggregate
    * regardless of the budget or corpus size.
    */
  val BudgetTokens = 50000L

  /** Synthetic held-out benchmark for q_decontaminate_fuzzy: every
    * %83==7 corpus doc with its leading token dropped — a light
    * paraphrase whose 3-gram shingle set loses only the ~2 shingles
    * touching the removed token, so each bench doc is a true
    * document-level near-dup (Jaccard well above 0.5) of its source
    * while matching it neither byte-exactly nor by content hash.
    * Returns (bdoc, shb = shingle set of the paraphrase).
    */
  private[graft] def benchSets(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.HashFunctions.register(s)
    Tables.documents(s, d).filter(col("doc_id") % 83 === 7)
      .select(col("doc_id").as("bdoc"),
        expr("shingles3(slice(split(text, ' '), 2, 2147483647))").as("shb"))
  }

  /** The cross-corpus MinHash-band candidate set behind
    * q_decontaminate_fuzzy, exposed for `Tools scale`: (doc_id, bdoc)
    * pairs where any of the 4 banded signatures collide. Growth with
    * corpus size should be ~linear (true near-dups are one-per-bench-
    * doc, random band collisions are ~0) — measured, not asserted.
    */
  private[graft] def decontamFuzzyCandidates(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val bench = benchSets(s, d)
    val bbands = graft.dedup.Dedup.minhashBandsOf(s,
      bench.select(col("bdoc"), col("shb")), "bdoc", "shb")
    graft.dedup.Dedup.minhashBands(s, d)
      .join(broadcast(bbands), Seq("band", "sig"))
      .select(col("doc_id"), col("bdoc")).distinct()
  }

  /** Per-doc benchmark-overlap table (only docs with ≥1 shared
    * shingle appear) — shared by q_decontaminate and the composed
    * pipeline.
    */
  /** The (corpus doc, bench doc, shared-shingle count) pair stage
    * both decontamination views aggregate — corpus side by doc_id
    * (q_decontaminate), benchmark side by bdoc
    * (q_contamination_report).
    */
  private[graft] def decontamPairs(s: SparkSession, d: String): DataFrame = {
    val sets = graft.dedup.Dedup.shingleSets(s, d)
    val bench = sets.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bdoc"), explode(col("sh")).as("s"))
    val corpus = sets.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    corpus.join(broadcast(bench), "s")
      .groupBy(col("doc_id"), col("bdoc"))
      .agg(countDistinct(col("s")).as("n_shared"))
  }

  private[graft] def decontamTable(s: SparkSession, d: String): DataFrame =
    decontamPairs(s, d)
      .groupBy(col("doc_id"))
      .agg(max(col("n_shared")).as("max_shared"),
        countDistinct(col("bdoc")).as("n_bench_hits"))
      .withColumn("contaminated", col("max_shared") >= 5)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STRATIFIED sampling with NEYMAN allocation — the survey-
    // statistics twin of the hash-Bernoulli samplers (q_mixture /
    // q_temperature): a fixed eval-budget of 200 docs is allocated
    // across language strata proportionally to n_h·σ_h (stratum size
    // × stdev of n_chars), the allocation that minimizes estimator
    // variance at fixed budget. σ_h derives from EXACT decimal
    // moments (the q_anomaly_zscore discipline; a_h = floor of
    // identical single IEEE ops in both engines); selection WITHIN a
    // stratum is a deterministic content-hash ranking (md5 asc,
    // doc_id tiebreak) cut at a_h — reproducible and unbiased w.r.t.
    // any corpus ordering. Shape: one bounded |langs| moment
    // aggregate broadcast back, one window rank per stratum
    // (per-lang partitions; at 100 TB rank-by-hash swaps for the
    // hash-threshold form with the same allocation law). Fully
    // oracled.
    "q_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val st = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_h"),
          sum(col("n_chars").cast("decimal(38,0)")).cast("double").as("s1"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
            .cast("double").as("s2"))
        .select(col("lang").as("slang"), col("n_h"),
          // integer micro-units BEFORE the cross-stratum sum: a
          // 5-double FP sum is accumulation-order-sensitive in the
          // last ulp, and a flipped ulp at a floor boundary would
          // flip an allocation — integers sum order-free
          // n_h = 1 guard: a single-doc stratum has undefined sample
          // stdev ((n_h−1) = 0 → 0/0 = NaN here, a CAST error in the
          // oracle's engine) — emit NULL in BOTH engines (oracle:
          // NULLIF(n_h−1, 0)) so such strata drop from the Σ and the
          // allocation identically rather than engine-divergently
          when(col("n_h") > 1,
            floor((col("n_h") * sqrt((col("s2") - col("s1") * col("s1")
              / col("n_h")) / (col("n_h") - 1))) * 1000000)
              .cast("long")).as("nsig_u"))
      val tot = st.agg(sum(col("nsig_u")).as("nsig_tot"))
      val alloc = st.crossJoin(broadcast(tot))
        .select(col("slang"),
          floor(lit(200.0) * col("nsig_u") / col("nsig_tot"))
            .cast("long").as("a_h"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text").cast("binary")), col("doc_id"))
      docs.select(col("doc_id"), col("lang"), col("text"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(alloc), col("lang") === col("slang"))
        .filter(col("rk") <= col("a_h"))
        .select(col("doc_id"), col("lang"), col("rk"), col("a_h"))
        .orderBy(col("doc_id"))
    }),

    // The COMPOSED corpus pipeline — the end-to-end assembly a user of
    // this library actually runs, expressed as ONE query so its
    // per-stage attrition is itself an auditable, oracled artifact:
    //   s0 raw pool → s1 Gopher rules → s2 exact-dedup keepers →
    //   s3 benchmark decontamination (bench docs excluded, overlap
    //   ≥ 5 dropped) → s4 temperature-½ source rebalance.
    // Every stage reuses the SAME operator internals its standalone
    // query publishes (gopherTable, the md5 keeper registry,
    // decontamTable, the hash-Bernoulli temperature rule with rates
    // recomputed on the s3 survivor pool), so this is composition,
    // not re-implementation — and the DuckDB oracle composes the
    // same standalone SQL fragments. Shape: each stage is a thin
    // doc_id semi/anti join over the previous survivor set; the s3
    // survivor pool is checkpointed once (it feeds the rate
    // aggregate, the sampler, and its own count). Fully oracled.
    "q_corpus_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
      val s1 = Quality.gopherTable(s, d).filter(col("keep")).select("doc_id")
      val keepers = docs
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s2 = s1.join(keepers, Seq("doc_id"), "leftsemi")
      val contaminated = decontamTable(s, d)
        .filter(col("contaminated")).select("doc_id")
      val s3 = s2.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "leftanti")
      val s3d = docs.join(s3, Seq("doc_id"), "leftsemi").localCheckpoint()
      val cnts = s3d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val nMin = cnts.agg(min(col("n_src")).as("n_min"))
      val rates = cnts.crossJoin(broadcast(nMin))
        .select(col("source"),
          floor(lit(1000.0) *
            sqrt(col("n_min").cast("double") / col("n_src").cast("double")))
            .cast("long").as("rate"))
      val s4 = s3d.withColumn("bucket", hashBucket(col("text"), 13, 1000))
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("rate"))
      Seq("s0_all" -> docs.select("doc_id"), "s1_rules" -> s1,
          "s2_dedup" -> s2, "s3_decontam" -> s3,
          "s4_sampled" -> s4.select("doc_id"))
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(n).as("stage"), col("n_docs"))
        }
        .reduce(_ unionAll _).orderBy(col("stage"))
    }),

    // Benchmark decontamination: find corpus documents that share
    // 3-gram shingles with a held-out benchmark set (here: doc_id %
    // 97 == 0). The index is built over the BENCHMARK side only — at
    // 100 TB the benchmark is a few thousand eval documents, so its
    // shingle index broadcasts and the corpus streams past it with
    // zero shuffle of document payloads; only the thin (doc_id,
    // shingle) hit pairs aggregate. This is the standard n-gram
    // overlap decontamination pass (cf. GPT-3/C4 dataset reports).
    "q_decontaminate" -> ((s, d) =>
      decontamTable(s, d).orderBy(col("doc_id"))),

    // CONTAMINATION report, benchmark side — the view the benchmark
    // OWNER reads (q_decontaminate aggregates the same pair table by
    // corpus doc for the corpus-hygiene cut; this aggregates by
    // held-out doc): per benchmark document, how many corpus docs
    // share any shingle, how many cross the contamination threshold,
    // and the worst overlap — the artifact that decides whether an
    // eval number is trustworthy or the benchmark leaked into
    // training wholesale. Same shape and cost as q_decontaminate
    // (the bench side broadcasts, corpus streams past, pairs are
    // thin); fully oracled from the shared hits CTE.
    "q_contamination_report" -> ((s, d) =>
      decontamPairs(s, d)
        .groupBy(col("bdoc"))
        .agg(count(lit(1)).as("n_corpus_hits"),
          sum(when(col("n_shared") >= 5, 1L).otherwise(0L))
            .as("n_contaminating"),
          max(col("n_shared")).as("max_shared"))
        .withColumn("leaked", col("n_contaminating") > 0)
        .orderBy(col("bdoc"))),

    // NEAR-DUP benchmark decontamination — the fuzzy counterpart of
    // q_decontaminate: exact n-gram overlap misses light paraphrase
    // (reordered sentences, a few swapped words leave ≥5-shingle
    // overlap behind only sometimes), so training-corpus hygiene also
    // runs a document-level near-dup pass between the corpus and the
    // held-out benchmark (the Lee et al. 2022 NearDup protocol:
    // MinHash candidates + exact-Jaccard verify, applied CROSS-corpus
    // instead of self-join). Candidates come from the shared banded
    // MinHash index (`Dedup.minhashBands`) equi-joined on (band, sig)
    // — the benchmark side is a few thousand docs at any real scale,
    // so its bands broadcast and the corpus index streams past; the
    // corpus NEVER self-joins and no document text enters the
    // candidate exchange. Each candidate is then verified with exact
    // Jaccard from the full shingle-set layout (fetch-join per pair),
    // keeping pairs ≥ 0.5 — the output is exactly verified, and since
    // round 13 the LSH-approximate candidate stage is itself
    // hash-checked: the DuckDB oracle GENERATES both sides' banded
    // MinHash signatures (graft.functions.XXH64Sql), so the query is
    // FULLY ORACLED; FuzzyDecontamSpec additionally pins the pair set
    // against the brute-force bench×corpus threshold answer. The
    // benchmark fixture is lightly-paraphrased corpus docs (`benchSets`
    // — leading token dropped), i.e. exactly the pairs a byte-exact
    // or whole-document-hash check misses; the corpus's own %97 split
    // contains no natural cross-split near-dups at test SFs, which
    // would leave this query demonstrating nothing.
    "q_decontaminate_fuzzy" -> ((s, d) => {
      val bench = benchSets(s, d)
      val cand = decontamFuzzyCandidates(s, d)
      val sets = graft.dedup.Dedup.shingleSets(s, d)
      val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
      val un = (size(col("sha")) + size(col("shb"))).cast("long") - inter
      cand
        .join(sets.select(col("doc_id"), col("sh").as("sha")), "doc_id")
        .join(bench, "bdoc")
        .select(col("doc_id"), col("bdoc"), inter.as("inter"),
          un.as("n_union"), (inter.cast("double") / un).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_id"), col("bdoc"))
    }),

    // Sequence packing: assign documents to fixed-capacity token bins
    // (2048 tokens) per source, in deterministic doc_id order — the
    // pass that concatenates documents into training sequences.
    // The per-source running sum is a TWO-PHASE distributed prefix sum
    // (a plain `partitionBy(source)` window would pull an entire
    // source — terabytes at target scale — through one task):
    //   1. per-(source, sub-shard) token totals — a map-side-combined
    //      agg, |docs|/SubShardDocs thin rows;
    //   2. cumulative offsets over that small table (window over
    //      sub-shard totals, not documents; recurse the same trick if
    //      even this outgrows one task), broadcast-joined back;
    //   3. running sum WITHIN each (source, sub-shard) — every window
    //      partition is ≤ SubShardDocs rows — plus the offset.
    // bin id = tokens-before-this-doc div capacity, all integer math;
    // results are bit-identical to the single-window form.
    "q_seq_pack" -> ((s, d) =>
      seqPacked(s, d).orderBy(col("doc_id"))),

    // PACKING-EFFICIENCY report — the observability readout on
    // q_seq_pack (the packing law assigns a document to the bin where
    // it STARTS, so a boundary-straddling document overfills its bin;
    // training pipelines watch exactly this: fill ratio and spill
    // decide whether to re-pack with wrapping or shrink documents
    // first). Per source and overall: bin count, token fill vs
    // 2048-token capacity in per-mille, overflowing-bin count and
    // spilled tokens. Shape: seqPacked's two-phase prefix sum → one
    // map-combined (source, bin) aggregate → a bounded per-source
    // aggregate; integers throughout; fully oracled by composing the
    // seq-pack SQL.
    "q_pack_efficiency" -> ((s, d) => {
      val fills = seqPacked(s, d)
        .groupBy(col("source"), col("bin"))
        .agg(sum(col("n_tok")).as("fill"))
      def report(g: DataFrame, label: Option[String]) = {
        val agg = (if (label.isEmpty) g.groupBy(col("source")) else g.groupBy())
        val base = agg.agg(count(lit(1)).as("n_bins"),
          sum(col("fill")).as("n_tokens"),
          (count(lit(1)) * lit(2048L)).as("capacity"),
          sum(when(col("fill") > 2048L, 1L).otherwise(0L))
            .as("n_overflow_bins"),
          sum(greatest(lit(0L), col("fill") - 2048L)).as("spill_tokens"))
        label.map(l => base.select(lit(l).as("source"), col("*")))
          .getOrElse(base)
      }
      report(fills, None).unionByName(report(fills, Some("(all)")))
        .select(col("source"), col("n_bins"), col("n_tokens"),
          col("capacity"),
          expr("n_tokens * 1000 div capacity").as("fill_pm"),
          col("n_overflow_bins"), col("spill_tokens"))
        .orderBy(col("source"))
    }),

    // WRAPPED sequence packing — the GPT-style packing that FIXES the
    // overfill q_pack_efficiency measures: a document straddling a
    // 2048-token bin boundary SPLITS at the boundary (its tail
    // continues in the next bin) instead of overfilling the bin where
    // it starts, so every bin except each source's last holds exactly
    // 2048 tokens — zero padding, zero spill (spec-pinned). Each doc
    // emits one (bin, in-doc offset, length) segment per bin it
    // touches — pure integer interval math over the same two-phase
    // prefix sum as q_seq_pack, a bounded explode (≤ n_tok/2048 + 1
    // segments per doc), no new shuffle. Fully oracled.
    "q_pack_wrap" -> ((s, d) =>
      wrapPacked(s, d).orderBy(col("doc_id"), col("bin"))),

    // WRAPPED-PACKING shard export — q_shard_export with the packing a
    // trainer actually wants: the layout shards q_pack_wrap's
    // zero-spill segments (every non-final bin per source holds
    // exactly 2048 tokens — ShardExportSpec pins it on the written
    // files) instead of q_seq_pack's overfilling bins. Shard count,
    // whole-sequence hashing, manifest discipline and the
    // order-independent fingerprint all match the flat exporter; the
    // manifest adds n_segs (segments ≥ docs — boundary-straddling
    // documents contribute one row per touched bin, so n_docs needs a
    // distinct). Everything is a pure function of (documents, budget)
    // ⇒ FULLY ORACLED by composing the pack-wrap SQL with the shard
    // assignment.
    "q_shard_export_wrapped" -> ((s, d) =>
      wrapShardLayout(s, d)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(concat(col("source"), lit(":"),
            col("bin").cast("string"))).as("n_seqs"),
          count(lit(1)).as("n_segs"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("seg_tokens")).as("n_tokens"),
          (sum(conv(substring(
              md5(concat(col("doc_id").cast("string"), lit(":"),
                col("bin").cast("string")).cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard"))),

    // TRAINING-EXPORT shard writer — the step that hands the packed
    // corpus to a training job: the packed-sequence table is written
    // ONCE as a shard-partitioned layout (shard count = ⌈corpus
    // tokens / ShardTokenBudget⌉, the q_compact_files file-count law;
    // whole (source, bin) sequences hash to one shard so no training
    // sequence ever splits across files), and the published artifact
    // is the per-shard MANIFEST a loader checks before reading bytes:
    // sequence/doc/token counts plus an order-independent content
    // fingerprint (the q_table_checksum DECIMAL(38,0) fold — identical
    // across partitionings and engines at any row count). Everything
    // is a pure function of (documents, budget): assignment is the
    // 48-bit md5 prefix of the sequence key mod the derived shard
    // count, so the manifest is FULLY ORACLED even though the layout
    // write itself is a side effect. Payload discipline: text
    // collapses to n_tok at the scan projection — no exchange in the
    // whole pipeline carries a payload column, and the only
    // data-moving step beyond seq-pack's prefix sum is the ONE hash
    // repartition into shards (plan-pinned by ShardExportSpec).
    "q_shard_export" -> ((s, d) =>
      shardLayout(s, d)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(concat(col("source"), lit(":"),
            col("bin").cast("string"))).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (sum(conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard"))),

    // END-TO-END PIPELINE EXPORT — the composed production pass:
    // near-dup DEDUP (one representative per cluster, q_dedup_apply's
    // law over the shared written label layout) → Gopher QUALITY
    // filter (q_quality_gopher's law) → the shared two-phase PACK →
    // the shared shard-law EXPORT, in ONE dataflow ending in a
    // write-once `pipeline_shards` layout. Each stage is individually
    // oracled elsewhere; this query oracles their COMPOSITION — stage
    // laws interact (dedup changes which docs the quality filter
    // sees packed; the keep set changes every bin boundary), so
    // hash-matching the composed manifest is strictly stronger
    // evidence than four green stages.
    //
    // Scale shape: text collapses at the scan in BOTH consumers
    // (n_tok projection for packing; the Gopher kernel is a
    // zero-shuffle projection), so every exchange in the composed
    // plan moves id-width rows — the whole 100 TB cleaning pass
    // shuffles a few percent of corpus bytes. The expensive CC
    // fixpoint is the shared write-once label layout (built once per
    // corpus at ingest, amortized across every dedup consumer). The
    // composed wall and per-stage exchange counts are measured at ×50
    // by `Tools rehearse` (BASELINE.md).
    "q_pipeline_export" -> ((s, d) =>
      graft.sources.Layouts.ensureLayout(s, d, "pipeline_shards",
          partitionCols = Seq("shard")) {
        val packed = pipelinePacked(s, d)
        withDerivedShard(packed, "n_tok", packed)
      }
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(countDistinct(concat(col("source"), lit(":"),
            col("bin").cast("string"))).as("n_seqs"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          (sum(conv(substring(
              md5(col("doc_id").cast("string").cast("binary")), 1, 8),
              16, 10).cast("decimal(38,0)"))
            % lit(1000000000000000000L)).cast("long").as("fingerprint"))
        .orderBy(col("shard"))),

    // NEEDLE-IN-A-HAYSTACK eval construction (Kamradt 2023 — the
    // standard long-context retrieval eval every context-extension
    // report runs): a (context length × needle depth × replicate)
    // grid of eval examples built from the corpus — haystacks are
    // exact-L token windows (the wrap-pack zero-spill law at bin
    // size L over a BOUNDED doc pool), the needle is a deterministic
    // 7-token fact that REPLACES the window tokens at the depth
    // point (so the rendered context is exactly L tokens at every
    // depth), and the published row carries what a grader needs:
    // the key, the expected answer, and the haystack/render
    // fingerprints. No RNG anywhere — the example set is a pure
    // function of (corpus, grid), reproducible across engines and
    // runs, which is what makes a long-context score comparable
    // between model checkpoints.
    //
    // Scale shape: the pool predicate (doc_id < 256) reaches the
    // parquet scan, so eval construction reads a CONSTANT number of
    // documents at ANY corpus size; each length's prefix sum and
    // window aggregate run over that bounded pool (one exchange per
    // length, 4 windows each); the depth grid is a literal explode.
    // Eval-build cost is O(grid), not O(corpus) — plan-pinned.
    // FULLY ORACLED (md5 keys, integer positions, fingerprint
    // renders mirror token-for-token in DuckDB).
    "q_niah_build" -> ((s, d) =>
      niahOf(niahPool(s, d))
        .orderBy(col("ctx_len"), col("depth_pm"), col("rep"))),

    // FILL-IN-MIDDLE transform (Bavarian et al. 2022 — the FIM
    // augmentation code models train with): for a deterministic
    // hash-selected ~half of the corpus, the token sequence splits at
    // two content-derived cut points into (prefix, middle, suffix)
    // and re-serializes in PSM order with sentinels —
    // <PRE> p <SUF> s <MID> m — teaching the model to infill; the
    // rest pass through untransformed. The cut points are pure md5
    // functions of doc_id (two independent streams, mod n+1 so empty
    // prefix/middle/suffix all occur), the apply decision is the
    // mixture-sampling content-hash Bernoulli — no RNG state, stable
    // under repartition and retries, which is what makes the
    // transform reproducible across training runs. Pure per-row map:
    // ZERO shuffle at any scale; published as segment lengths + the
    // transformed text's fingerprint so only 16-byte hashes leave the
    // row. Fully oracled (identical md5/concat in both engines).
    "q_fim_transform" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .withColumn("fim", hashBucket(col("text"), 5, 1000) < FimRatePm)
        .withColumn("c1", pmod(conv(substring(md5(concat(
            col("doc_id").cast("string"), lit(":fim1")).cast("binary")),
          1, 8), 16, 10).cast("long"), col("n") + 1))
        .withColumn("c2", pmod(conv(substring(md5(concat(
            col("doc_id").cast("string"), lit(":fim2")).cast("binary")),
          1, 8), 16, 10).cast("long"), col("n") + 1))
        .withColumn("lo", least(col("c1"), col("c2")))
        .withColumn("hi", greatest(col("c1"), col("c2")))
        .withColumn("out",
          when(col("fim"), concat(
            lit("<PRE> "),
            concat_ws(" ", expr("slice(tk, 1, cast(lo as int))")),
            lit(" <SUF> "),
            concat_ws(" ", expr("slice(tk, cast(hi + 1 as int), cast(n - hi as int))")),
            lit(" <MID> "),
            concat_ws(" ", expr("slice(tk, cast(lo + 1 as int), cast(hi - lo as int))"))))
          .otherwise(col("text")))
        .select(col("doc_id"), col("fim"), col("n"),
          // -1 sentinel, not NULL: a nullable int column degrades to
          // float64 in the driver's pandas read on BOTH sides — avoid
          // relying on that coincidence
          when(col("fim"), col("lo")).otherwise(lit(-1L)).as("cut_lo"),
          when(col("fim"), col("hi")).otherwise(lit(-1L)).as("cut_hi"),
          md5(col("out").cast("binary")).as("out_fp"),
          length(col("out")).cast("long").as("out_chars"))
        .orderBy(col("doc_id"))),

    // Sliding-window CHUNKING with overlap — the long-document
    // splitting pass RAG indexing and context-window packing share:
    // fixed W-token windows advancing by stride S < W, so adjacent
    // chunks overlap by W−S tokens and no token-span longer than the
    // overlap is ever split across a chunk boundary. Chunk count =
    // 1 + ⌈max(0, n−W)/S⌉ — pure integer math, bounded explode per
    // document (the q_pack_wrap shape); each chunk publishes its
    // offset/length and content fingerprint, so downstream embedding
    // or indexing reads (doc_id, chunk) rows without re-splitting.
    // Zero shuffle; fully oracled.
    "q_chunk_overlap" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .filter(col("n") > 0)
        .withColumn("n_chunks",
          lit(1L) + greatest(lit(0L),
            expr(s"(n - $ChunkTokens + $ChunkStride - 1) div $ChunkStride")))
        .select(col("doc_id"), col("tk"), col("n"),
          explode(expr("sequence(0, n_chunks - 1)")).as("chunk"))
        .withColumn("tok_off", col("chunk") * ChunkStride)
        .withColumn("tok_len",
          least(lit(ChunkTokens.toLong), col("n") - col("tok_off")))
        .select(col("doc_id"), col("chunk"), col("tok_off"), col("tok_len"),
          md5(concat_ws(" ",
            expr("slice(tk, cast(tok_off + 1 as int), cast(tok_len as int))"))
            .cast("binary")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk"))),

    // Deterministic corpus shuffle: hash-shard then hash-order within
    // the shard — the reproducible "global shuffle" that training
    // ingestion needs. No RNG state: the order is a pure function of
    // doc_id, stable under repartitioning and retries. Positions are
    // per-shard (window partitioned by shard); a single global
    // row_number would serialize through one partition at 100 TB.
    // ShuffleShards (4096 = the first 3 md5 hex digits, exactly) keeps
    // every window partition at corpus/4096 — bounded and independent
    // at cluster parallelism, not 16 fat stripes.
    "q_corpus_shuffle" -> ((s, d) => {
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":42")).cast("binary"))
            .as("skey"))
        .withColumn("shard",
          pmod(conv(substring(col("skey"), 1, 3), 16, 10).cast("long"),
            lit(ShuffleShards.toLong)))
        .withColumn("pos", row_number().over(wPos).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"), col("skey"))
        .orderBy(col("doc_id"))
    }),

    // Mixture sampling: per-language keep rates (downsample the
    // dominant language, keep the rest) via an independent md5 stream
    // on content — deterministic Bernoulli, the way dataset mixtures
    // are actually weighted. Pure per-row map, zero shuffle; rates
    // tune per domain without touching the pipeline.
    "q_mixture_sample" -> ((s, d) => {
      val weight = when(col("lang") === "en", 50L)
        .when(col("lang") === "zh", 100L)
        .otherwise(80L)
      Tables.documents(s, d)
        .withColumn("bucket", hashBucket(col("text"), 9, 100))
        .withColumn("keep_w", weight)
        .filter(col("bucket") < col("keep_w"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("keep_w"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-weighted source mixing (α = 1/2): the pass that
    // rebalances a multi-source corpus so sampled shares follow
    // p_s^α instead of raw size (cf. multilingual/multi-domain
    // training mixtures). Keep rate per source = ⌊1000·√(n_min/n_s)⌋
    // per mille — the smallest source keeps everything, a 100×-larger
    // source keeps 10%. α is fixed at 1/2 because sqrt is correctly
    // rounded IEEE in both engines (pow/exp/ln are not, and a 1-ulp
    // rate difference would flip rows at the bucket boundary); floor
    // (not round) sidesteps the engines' half-case divergence. The
    // keep decision is the usual deterministic content-hash Bernoulli:
    // zero shuffle on the corpus, rates broadcast from a 6-row agg.
    "q_temperature_sample" -> ((s, d) => {
      val counts = Tables.documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      val nMin = counts.agg(min(col("n_src")).as("n_min"))
      val rates = counts.crossJoin(broadcast(nMin))
        .withColumn("rate",
          floor(lit(1000.0) *
            sqrt(col("n_min").cast("double") / col("n_src").cast("double")))
            .cast("long"))
        .select(col("source"), col("rate"))
      Tables.documents(s, d)
        .withColumn("bucket", hashBucket(col("text"), 13, 1000))
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("source"), col("bucket"), col("rate"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic per-source reservoir sample: keep exactly k docs
    // per source, chosen uniformly by an md5 content-hash order —
    // bottom-k by hash IS a mergeable reservoir (the bottom-k of a
    // union is the bottom-k of the per-partition bottom-k's), so the
    // plan's partial WindowGroupLimit keeps ≤ k rows per partition
    // map-side and the exchange carries ≤ k·partitions rows, never
    // the corpus. Unlike the Bernoulli samplers above (fractional,
    // size follows the source), this pins an exact per-group budget —
    // the "n docs per domain for eval" pass. Fully oracled (md5 order
    // is engine-identical).
    "q_reservoir_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= ReservoirK)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy(col("source"), col("rk"))
    }),

    // WEIGHTED reservoir sample (Efraimidis–Spirakis 2006 A-ES): keep
    // k docs per source, drawn WITHOUT replacement with probability
    // proportional to a quality weight (here n_chars — longer docs
    // favored, the shape of sampling-by-quality-score corpus
    // construction). Each row gets priority u^(1/w) with u a
    // deterministic md5-derived uniform — the A-ES theorem makes
    // top-k-by-priority exactly the weighted draw, and the top-k
    // shares the uniform reservoir's mergeability (partial
    // WindowGroupLimit keeps ≤ k rows per partition map-side). No RNG
    // state, reproducible across engines, partitionings and retries.
    // Fully oracled (round 12): pow's cross-engine bit-parity is not
    // guaranteed, so the RANKING keys on the 9-decimal ROUNDED
    // priority with doc_id as tiebreak (the q_embed_pca_eval
    // discipline) — a ≤few-ulp libm difference flips the rounding
    // only when a priority sits within ulps of a 0.5e-9 boundary,
    // and the fixed corpora clear every boundary by ≥ 2.9e-5 grid
    // units (measured, 130× the ulp scale). WeightedSampleSpec
    // replays the rounded selection exactly and pins that the
    // heavy-weight quartile is overrepresented vs the uniform
    // reservoir.
    "q_weighted_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":ws42")).cast("binary")), 1, 8), 16, 10).cast("double") + 1.0) /
        4294967296.0
      val w = Window.partitionBy(col("source"))
        .orderBy(round(col("priority"), 9).desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          pow(u, lit(1.0) / col("n_chars").cast("double")).as("priority"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= ReservoirK)
        .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("rk"))
    }),

    // Equal-frequency (quantile) bucketing: ntile(10) over document
    // length per language — the curriculum-ordering pass (shortest
    // decile first). Deterministic: the tiebreak on doc_id pins the
    // order. Languages are a handful, so `ntile(10) OVER (PARTITION BY
    // lang ...)` would sort all of "en" in ONE task at 100 TB; instead
    // the global rank is a two-phase distributed count:
    //   1. counts per (lang, n_chars, sub-shard) — thin agg rows;
    //   2. cumulative offsets + per-lang totals over that small table,
    //      broadcast back;
    //   3. row_number within each (lang, n_chars, sub-shard) partition
    //      (≤ SubShardDocs rows) + offset = exact global rank, because
    //      (n_chars, sub, doc_id) ordering == (n_chars, doc_id).
    // The decile then falls out of ntile's closed form — first n%10
    // tiles get n/10+1 rows, the rest n/10 — so the result is
    // bit-identical to the ntile window the DuckDB oracle runs.
    "q_quantile_bucket" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("sub", expr(s"doc_id div $SubShardDocs"))
      val wOff = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("sub"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy(col("lang"), col("n_chars"), col("sub"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
        .withColumn("n_lang",
          sum(col("cnt")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("n_chars"), col("sub"),
          col("off"), col("n_lang"))
      val wLoc = Window.partitionBy(col("lang"), col("n_chars"), col("sub"))
        .orderBy(col("doc_id"))
      docs.join(broadcast(offsets), Seq("lang", "n_chars", "sub"))
        .withColumn("rk", col("off") + row_number().over(wLoc))
        .withColumn("q10", expr("n_lang div 10"))
        .withColumn("r10", expr("n_lang % 10"))
        .withColumn("decile", expr(
          """cast(case when rk <= r10 * (q10 + 1)
            |  then (rk - 1) div (q10 + 1) + 1
            |  else r10 + (rk - r10 * (q10 + 1) - 1) div q10 + 1
            |end as int)""".stripMargin))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("decile"))
        .orderBy(col("doc_id"))
    }),

    // T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4): turn each
    // document into a (input, target) denoising pair — ~15% of token
    // positions are masked, contiguous masked runs collapse to one
    // numbered sentinel in the input, and the target lists each
    // sentinel followed by the tokens it hides. This is the op that
    // turns a cleaned corpus into seq2seq pretraining examples. The
    // mask decision is the shared md5-bucket idiom (hash of
    // doc_id:pos:salt — no RNG state, byte-identical in DuckDB), runs
    // come from one per-doc gaps-and-islands window (documents are
    // KB-bounded, so per-doc partitions are the natural grain — the
    // q_dedup_spans precedent), and the rebuild is an ordered
    // null-skipping string_agg in both engines. Tokens cross the
    // exchange exactly once — unavoidable, the output IS rebuilt
    // text. Fully oracled.
    "q_span_corruption" -> ((s, d) => {
      // the whole gaps-and-islands construction — mask law, run
      // collapse, dense sentinel numbering, both serializations — is
      // a pure per-document function, so it runs as ONE codegen'd
      // kernel call (functions.SpanCorrupt, byte-identical mask: the
      // first two md5 bytes ARE hashBucket's 4 hex chars). Replaces
      // the token-level posexplode + per-doc window + ordered
      // collect_list rebuild: the per-token doc_id exchange is gone
      // entirely (text never shuffles; measured 1.43 -> 0.64 s at
      // sf0.1), and the oracle + losslessness spec are unchanged.
      graft.functions.TextFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"span_corrupt(doc_id, split(text, ' '), $MaskPm)").as("st"))
        .select(col("doc_id"),
          col("st.input").as("input"), col("st.target").as("target"))
        .orderBy(col("doc_id"))
    }),

    // IN-CONTEXT-PRETRAINING ordering (Shi et al. 2023's ICLM recipe):
    // order the corpus so RELATED documents land in the same training
    // window — the pretraining-side complement of retrieval
    // augmentation. Relatedness = the connected near-dup clusters the
    // engine already labels (q_dedup_clusters' written layout; the
    // semantic-cluster swap is one column). Ordering law: shard =
    // md5 bucket of the GROUP key (a cluster's members can never
    // split across shards), within-shard order = (grp, content-hash)
    // — cluster-major, deterministic, no RNG state. The published
    // artifact is the ADJACENCY EVAL against the hash-shuffled twin
    // (q_corpus_shuffle's order): share of consecutive doc pairs
    // sharing a group, and the ICLM payoff metric — related pairs
    // that also share a 2048-token window under contiguous
    // pack-wrap serialization. Shape per branch: thin (doc_id,
    // n_tok, grp) rows through ONE shard exchange; the per-shard
    // window, the shard aggregate, and the window-count law reuse
    // that partitioning; text never moves. IcpShards = 64 here;
    // at cluster scale the shard count is task-parallelism-sized
    // (each window partition is corpus/shards). Fully oracled
    // (composes the recursive-CTE cluster labels with the same
    // window arithmetic).
    "q_icp_order" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val labels = graft.dedup.Dedup.clusterLabels(s, d)
      // localCheckpoint: the thin (doc_id, n_tok, grp) table feeds
      // BOTH order branches — materialize the tokenize + label join
      // once (the q_ngram_novelty discipline)
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("cluster_keeper"), col("doc_id")).as("grp"))
        .localCheckpoint()
      def hex3mod64(c: Column): Column =
        pmod(conv(substring(c, 1, 3), 16, 10).cast("long"), lit(64L))
      val icp = base
        .withColumn("shard", hex3mod64(md5(concat(
          col("grp").cast("string"), lit(":icps")).cast("binary"))))
        .withColumn("sk", md5(concat(col("grp").cast("string"), lit(":"),
          col("doc_id").cast("string"), lit(":icp")).cast("binary")))
      val shf = base
        .withColumn("sk", md5(concat(
          col("doc_id").cast("string"), lit(":icsh")).cast("binary")))
        .withColumn("shard", hex3mod64(col("sk")))
      def stats(kind: String, df: org.apache.spark.sql.DataFrame,
          sort: Seq[Column]): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy(col("shard")).orderBy(sort: _*)
        df.withColumn("s0", coalesce(sum(col("n_tok"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("prev_grp", lag(col("grp"), 1).over(w))
          .groupBy(col("shard"))
          .agg(max(col("s0") + col("n_tok")).as("tok"),
            count(lit(1)).as("nd"),
            sum(when(col("prev_grp").isNotNull, 1L).otherwise(0L)).as("adj"),
            sum(when(col("prev_grp") === col("grp"), 1L).otherwise(0L))
              .as("rel"),
            sum(when(col("prev_grp").isNotNull && col("s0") % 2048 =!= 0, 1L)
              .otherwise(0L)).as("wp"),
            sum(when(col("prev_grp") === col("grp") && col("s0") % 2048 =!= 0,
              1L).otherwise(0L)).as("rwp"))
          .agg(sum(col("nd")).as("n_docs"),
            count(lit(1)).as("n_shards"),
            sum(expr("(tok + 2047) div 2048")).as("n_windows"),
            sum(col("adj")).as("adj_pairs"),
            sum(col("rel")).as("related_pairs"),
            sum(col("wp")).as("window_pairs"),
            sum(col("rwp")).as("related_window_pairs"))
          .select(lit(kind).as("order_kind"), col("n_docs"), col("n_shards"),
            col("n_windows"), col("adj_pairs"), col("related_pairs"),
            expr("""CASE WHEN adj_pairs > 0
              |  THEN related_pairs * 1000 div adj_pairs
              |  ELSE CAST(0 AS BIGINT) END""".stripMargin).as("related_pm"),
            col("window_pairs"), col("related_window_pairs"),
            expr("""CASE WHEN adj_pairs > 0
              |  THEN related_window_pairs * 1000 div adj_pairs
              |  ELSE CAST(0 AS BIGINT) END""".stripMargin)
              .as("related_window_pm"))
      }
      stats("icp", icp, Seq(col("grp"), col("sk"), col("doc_id")))
        .unionAll(stats("shuffled", shf, Seq(col("sk"), col("doc_id"))))
        .orderBy(col("order_kind"))
    }),

    // Length histogram: fixed-width n_chars buckets per language —
    // the corpus-profiling pass that drives chunking and filter
    // thresholds. Bounded output (langs × 10 buckets); map-side
    // combine collapses each partition before the one thin shuffle.
    "q_length_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", least(expr("n_chars div 100"), lit(9L)))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("bucket"))),

    // Token-budget mixture PLANNER — the step before any sampling
    // pass runs: given per-source token inventories and a total
    // training budget, allocate each source's token share under a
    // temperature-½ mixture (share ∝ √tokens, the q_temperature_sample
    // law) and report the sampling rate as epochs-per-mille (>1000 ⇒
    // the source repeats — the small-source upsampling decision). One
    // map-combined per-source aggregate (thin: |sources| rows), a
    // broadcast 1-row weight total, and ALL-INTEGER allocation
    // arithmetic: the weight is ⌊√n·1000⌋ (sqrt is correctly-rounded
    // IEEE in both engines; floor sidesteps half-cases, exactly the
    // temperature-sampler's rationale), so the plan is bit-stable
    // under any summation order and hash-matches the oracle exactly.
    "q_token_budget" -> ((s, d) => {
      val w = Tables.documents(s, d)
        .select(col("source"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("ntok"))
        .groupBy(col("source")).agg(sum(col("ntok")).as("n_tokens"))
        .withColumn("w",
          floor(sqrt(col("n_tokens").cast("double")) * 1000.0).cast("long"))
      w.crossJoin(broadcast(w.agg(sum(col("w")).as("w_tot"))))
        .select(col("source"), col("n_tokens"), col("w"),
          expr(s"$BudgetTokens * w div w_tot").as("ideal_tokens"),
          expr(s"($BudgetTokens * w div w_tot) * 1000 div n_tokens")
            .as("epochs_pm"))
        .orderBy(col("source"))
    })
  )

  private[graft] val shingleSetsSql =
    """SELECT doc_id, CASE WHEN len(l) >= 3
      |    THEN list_distinct(list_transform(generate_series(1, len(l) - 2),
      |         i -> array_to_string(l[i:i+2], ' ')))
      |    ELSE [array_to_string(l, ' ')] END AS sh
      |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) toks""".stripMargin

  /** The q_decontaminate SQL (no ORDER BY) — shared with the composed
    * pipeline oracle.
    */
  /** The shared pair-stage CTE chain (… AS hits) both decontamination
    * oracles aggregate.
    */
  private[graft] val decontamHitsSql: String =
    s"""sets AS ($shingleSetsSql),
       |sh AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |bench AS (SELECT doc_id AS bdoc, s FROM sh WHERE doc_id % 97 = 0),
       |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 != 0),
       |hits AS (
       |  SELECT c.doc_id, b.bdoc, count(DISTINCT c.s) AS n_shared
       |  FROM corpus c JOIN bench b USING (s)
       |  GROUP BY c.doc_id, b.bdoc)""".stripMargin

  private[graft] val decontamSql: String =
    s"""WITH $decontamHitsSql
       |SELECT doc_id, max(n_shared) AS max_shared,
       |  CAST(count(DISTINCT bdoc) AS BIGINT) AS n_bench_hits,
       |  max(n_shared) >= 5 AS contaminated
       |FROM hits GROUP BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_icp_order" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.clusterLabelCtes},
         |g AS (
         |  SELECT d.doc_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         |    coalesce(l.cluster_keeper, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
         |icp AS (
         |  SELECT doc_id, n_tok, grp,
         |    ('0x' || substr(md5(grp || ':icps'), 1, 3))::BIGINT % 64 AS shard,
         |    md5(grp || ':' || doc_id || ':icp') AS sk
         |  FROM g),
         |shf AS (
         |  SELECT doc_id, n_tok, grp,
         |    ('0x' || substr(md5(doc_id || ':icsh'), 1, 3))::BIGINT % 64
         |      AS shard,
         |    md5(doc_id || ':icsh') AS sk
         |  FROM g),
         |wi AS (
         |  SELECT shard, grp, n_tok,
         |    coalesce(sum(n_tok) OVER (PARTITION BY shard
         |      ORDER BY grp, sk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s0,
         |    lag(grp) OVER (PARTITION BY shard ORDER BY grp, sk, doc_id)
         |      AS prev_grp
         |  FROM icp),
         |ws AS (
         |  SELECT shard, grp, n_tok,
         |    coalesce(sum(n_tok) OVER (PARTITION BY shard
         |      ORDER BY sk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s0,
         |    lag(grp) OVER (PARTITION BY shard ORDER BY sk, doc_id)
         |      AS prev_grp
         |  FROM shf),
         |pi AS (
         |  SELECT shard, max(s0 + n_tok) AS tok, count(*) AS nd,
         |    count(prev_grp) AS adj,
         |    sum(CASE WHEN prev_grp = grp THEN 1 ELSE 0 END) AS rel,
         |    sum(CASE WHEN prev_grp IS NOT NULL AND s0 % 2048 <> 0
         |        THEN 1 ELSE 0 END) AS wp,
         |    sum(CASE WHEN prev_grp = grp AND s0 % 2048 <> 0
         |        THEN 1 ELSE 0 END) AS rwp
         |  FROM wi GROUP BY shard),
         |ps AS (
         |  SELECT shard, max(s0 + n_tok) AS tok, count(*) AS nd,
         |    count(prev_grp) AS adj,
         |    sum(CASE WHEN prev_grp = grp THEN 1 ELSE 0 END) AS rel,
         |    sum(CASE WHEN prev_grp IS NOT NULL AND s0 % 2048 <> 0
         |        THEN 1 ELSE 0 END) AS wp,
         |    sum(CASE WHEN prev_grp = grp AND s0 % 2048 <> 0
         |        THEN 1 ELSE 0 END) AS rwp
         |  FROM ws GROUP BY shard),
         |a AS (
         |  SELECT 'icp' AS order_kind, CAST(sum(nd) AS BIGINT) AS n_docs,
         |    count(*) AS n_shards,
         |    CAST(sum((tok + 2047) // 2048) AS BIGINT) AS n_windows,
         |    CAST(sum(adj) AS BIGINT) AS adj_pairs,
         |    CAST(sum(rel) AS BIGINT) AS related_pairs,
         |    CAST(sum(wp) AS BIGINT) AS window_pairs,
         |    CAST(sum(rwp) AS BIGINT) AS related_window_pairs
         |  FROM pi
         |  UNION ALL
         |  SELECT 'shuffled', CAST(sum(nd) AS BIGINT), count(*),
         |    CAST(sum((tok + 2047) // 2048) AS BIGINT),
         |    CAST(sum(adj) AS BIGINT), CAST(sum(rel) AS BIGINT),
         |    CAST(sum(wp) AS BIGINT), CAST(sum(rwp) AS BIGINT)
         |  FROM ps)
         |SELECT order_kind, n_docs, n_shards, n_windows, adj_pairs,
         |  related_pairs,
         |  CAST(CASE WHEN adj_pairs > 0
         |    THEN related_pairs * 1000 // adj_pairs ELSE 0 END AS BIGINT)
         |    AS related_pm,
         |  window_pairs, related_window_pairs,
         |  CAST(CASE WHEN adj_pairs > 0
         |    THEN related_window_pairs * 1000 // adj_pairs ELSE 0 END
         |    AS BIGINT) AS related_window_pm
         |FROM a ORDER BY order_kind""".stripMargin,
    // cross-corpus fuzzy decontamination with the MinHash candidate
    // stage GENERATED in SQL (graft.functions.XXH64Sql — the
    // q_dedup_minhash machinery): corpus-side and bench-side banded
    // signatures, band-collision candidates, exact-Jaccard verify.
    // The bench side mirrors benchSets (every %83==7 doc with its
    // leading token dropped); jaccard ships UNROUNDED — one exact
    // integer division per pair, identical IEEE doubles both engines.
    "q_decontaminate_fuzzy" ->
      s"""WITH sets AS MATERIALIZED (${graft.dedup.Dedup.shingleSetsSql}),
         |bsets AS MATERIALIZED (
         |  SELECT doc_id AS bdoc, CASE WHEN len(l) >= 3
         |    THEN list_distinct(list_transform(generate_series(1, len(l) - 2),
         |         i -> array_to_string(l[i:i+2], ' ')))
         |    ELSE [array_to_string(l, ' ')] END AS sh
         |  FROM (SELECT doc_id, (string_split(text, ' '))[2:] AS l
         |        FROM documents WHERE doc_id % 83 = 7) t),
         |${graft.functions.XXH64Sql.bandSigCtes("mc_", "sets", "doc_id", 4, 4)},
         |${graft.functions.XXH64Sql.bandSigCtes("mb_", "bsets", "bdoc", 4, 4)},
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT c.doc_id, b.bdoc
         |  FROM mc_bsig c JOIN mb_bsig b
         |    ON c.band = b.band AND c.sig = b.sig),
         |jac AS (
         |  SELECT cand.doc_id, cand.bdoc,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         |    CAST(len(sa.sh) + len(sb.sh)
         |      - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_union
         |  FROM cand JOIN sets sa ON cand.doc_id = sa.doc_id
         |  JOIN bsets sb ON cand.bdoc = sb.bdoc)
         |SELECT doc_id, bdoc, inter, n_union,
         |  inter::DOUBLE / n_union AS jaccard
         |FROM jac WHERE inter::DOUBLE / n_union >= 0.5
         |ORDER BY doc_id, bdoc""".stripMargin,

    "q_corpus_pipeline" ->
      s"""WITH s1 AS (SELECT doc_id FROM (${Quality.gopherSql}) g WHERE keep),
         |fp AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id
         |  FROM documents GROUP BY 1),
         |s2 AS (SELECT s1.doc_id FROM s1 JOIN fp USING (doc_id)),
         |cont AS (SELECT doc_id FROM ($decontamSql) dc WHERE contaminated),
         |s3 AS (SELECT doc_id FROM s2 WHERE doc_id % 97 != 0
         |  AND doc_id NOT IN (SELECT doc_id FROM cont)),
         |s3d AS (SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN s3 USING (doc_id)),
         |cnts AS (SELECT source, count(*) AS n_src FROM s3d GROUP BY 1),
         |mn AS (SELECT min(n_src) AS n_min FROM cnts),
         |rates AS (
         |  SELECT source, CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE)
         |    / n_src)) AS BIGINT) AS rate
         |  FROM cnts, mn),
         |s4 AS (
         |  SELECT s3d.doc_id FROM s3d JOIN rates USING (source)
         |  WHERE ('0x' || substr(md5(text), 13, 4))::BIGINT % 1000 < rate)
         |SELECT stage, n_docs FROM (
         |  SELECT 's0_all' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT 's1_rules', count(*) FROM s1
         |  UNION ALL SELECT 's2_dedup', count(*) FROM s2
         |  UNION ALL SELECT 's3_decontam', count(*) FROM s3
         |  UNION ALL SELECT 's4_sampled', count(*) FROM s4) u
         |ORDER BY stage""".stripMargin,
    "q_stratified_sample" ->
      """WITH st AS (
        |  SELECT lang, count(*) AS n_h,
        |    CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE)
        |      AS s2
        |  FROM documents GROUP BY 1),
        |ns AS (
        |  SELECT lang, n_h,
        |    CAST(floor(n_h * sqrt((s2 - s1 * s1 / n_h)
        |      / NULLIF(n_h - 1, 0)) * 1000000) AS BIGINT) AS nsig_u
        |  FROM st),
        |tot AS (SELECT CAST(sum(nsig_u) AS BIGINT) AS nsig_tot FROM ns),
        |alloc AS (
        |  SELECT lang, CAST(floor(200.0 * nsig_u / nsig_tot) AS BIGINT)
        |    AS a_h
        |  FROM ns, tot),
        |rk AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rk, a.a_h
        |FROM rk r JOIN alloc a USING (lang)
        |WHERE r.rk <= a.a_h ORDER BY r.doc_id""".stripMargin,
    "q_token_budget" ->
      s"""WITH w AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), ww AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000.0) AS BIGINT) AS w
         |  FROM w
         |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM ww)
         |SELECT source, n_tokens, w,
         |  CAST($BudgetTokens * w // w_tot AS BIGINT) AS ideal_tokens,
         |  CAST(($BudgetTokens * w // w_tot) * 1000 // n_tokens AS BIGINT)
         |    AS epochs_pm
         |FROM ww, tot ORDER BY source""".stripMargin,
    "q_span_corruption" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, l[i] AS tok
         |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
         |        FROM (SELECT doc_id, string_split(text, ' ') AS l
         |              FROM documents) t) u),
         |flagged AS (
         |  SELECT doc_id, pos, tok,
         |    ('0x' || substr(md5(doc_id || ':' || pos || ':sc42'), 1, 4))::BIGINT
         |      % 1000 < $MaskPm AS masked
         |  FROM toks),
         |starts AS (
         |  SELECT doc_id, pos, tok, masked,
         |    masked AND NOT coalesce(lag(masked) OVER
         |      (PARTITION BY doc_id ORDER BY pos), false) AS run_start
         |  FROM flagged),
         |runs AS (
         |  SELECT doc_id, pos, tok, masked, run_start,
         |    sum(CASE WHEN run_start THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY doc_id ORDER BY pos
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
         |  FROM starts),
         |pieces AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN NOT masked THEN tok
         |         WHEN run_start THEN '<extra_id_' || (run_id - 1) || '>'
         |    END AS in_piece,
         |    CASE WHEN masked AND run_start
         |           THEN '<extra_id_' || (run_id - 1) || '> ' || tok
         |         WHEN masked THEN tok
         |    END AS tgt_piece
         |  FROM runs)
         |SELECT doc_id,
         |  coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS input,
         |  coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target
         |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_decontaminate" -> s"$decontamSql ORDER BY doc_id",
    "q_contamination_report" ->
      s"""WITH $decontamHitsSql
         |SELECT bdoc, count(*) AS n_corpus_hits,
         |  CAST(sum(CASE WHEN n_shared >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminating,
         |  max(n_shared) AS max_shared,
         |  sum(CASE WHEN n_shared >= 5 THEN 1 ELSE 0 END) > 0 AS leaked
         |FROM hits GROUP BY bdoc ORDER BY bdoc""".stripMargin,
    "q_seq_pack" ->
      """SELECT doc_id, source, n_tok, running, (running - n_tok) // 2048 AS bin
        |FROM (
        |  SELECT doc_id, source, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |        FROM documents) t) w
        |ORDER BY doc_id""".stripMargin,
    "q_pack_wrap" ->
      s"""WITH packed AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM (SELECT doc_id, source,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |        FROM documents) t),
         |b AS (
         |  SELECT doc_id, source, n_tok, running - n_tok AS s0
         |  FROM packed),
         |seg AS (
         |  SELECT doc_id, source, n_tok, s0,
         |    unnest(generate_series(s0 // 2048,
         |      (s0 + n_tok - 1) // 2048)) AS bin
         |  FROM b)
         |SELECT doc_id, source, CAST(bin AS BIGINT) AS bin,
         |  CAST(GREATEST(s0, bin * 2048) - s0 AS BIGINT) AS seg_off,
         |  CAST(LEAST(s0 + n_tok, (bin + 1) * 2048)
         |    - GREATEST(s0, bin * 2048) AS BIGINT) AS seg_tokens
         |FROM seg ORDER BY doc_id, bin""".stripMargin,
    "q_pack_efficiency" ->
      s"""WITH packed AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM (SELECT doc_id, source,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |        FROM documents) t),
         |f AS (
         |  SELECT source, (running - n_tok) // 2048 AS bin,
         |    CAST(sum(n_tok) AS BIGINT) AS fill
         |  FROM packed GROUP BY source, (running - n_tok) // 2048),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
         |    CAST(sum(fill) AS BIGINT) AS n_tokens,
         |    CAST(count(*) * 2048 AS BIGINT) AS capacity,
         |    CAST(sum(CASE WHEN fill > 2048 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_overflow_bins,
         |    CAST(sum(GREATEST(0, fill - 2048)) AS BIGINT) AS spill_tokens
         |  FROM f GROUP BY source
         |  UNION ALL
         |  SELECT '(all)', CAST(count(*) AS BIGINT),
         |    CAST(sum(fill) AS BIGINT), CAST(count(*) * 2048 AS BIGINT),
         |    CAST(sum(CASE WHEN fill > 2048 THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(GREATEST(0, fill - 2048)) AS BIGINT)
         |  FROM f)
         |SELECT source, n_bins, n_tokens, capacity,
         |  CAST(n_tokens * 1000 // capacity AS BIGINT) AS fill_pm,
         |  n_overflow_bins, spill_tokens
         |FROM per ORDER BY source""".stripMargin,
    "q_shard_export" ->
      s"""WITH packed AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM (SELECT doc_id, source,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |        FROM documents) t),
         |b AS (
         |  SELECT doc_id, source, n_tok,
         |    (running - n_tok) // 2048 AS bin
         |  FROM packed),
         |${nshSql("n_tok", "b")},
         |a AS (
         |  SELECT doc_id, source, n_tok, bin,
         |    ('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)),
         |      1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM b)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR))
         |    AS BIGINT) AS n_seqs,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    // per-length wrap-pack windows over the bounded pool, the literal
    // depth grid, and the needle-replacement render — token-for-token
    "q_niah_build" -> {
      val winCtes = NiahLens.map { l =>
        s"""p$l AS (
           |  SELECT doc_id, toks, n_tok,
           |    CAST(sum(n_tok) OVER (ORDER BY doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
           |  FROM pool),
           |s$l AS (
           |  SELECT doc_id, toks, n_tok, running - n_tok AS s0,
           |    unnest(generate_series((running - n_tok) // $l,
           |      (running - 1) // $l)) AS bin
           |  FROM p$l),
           |w$l AS (
           |  SELECT CAST($l AS BIGINT) AS ctx_len, CAST(bin AS BIGINT) AS rep,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    flatten(list(
           |      toks[GREATEST(s0, bin * $l) - s0 + 1 :
           |           LEAST(s0 + n_tok, (bin + 1) * $l) - s0]
           |      ORDER BY doc_id)) AS win
           |  FROM s$l WHERE bin < $NiahReps GROUP BY bin)""".stripMargin
      }.mkString(",\n")
      // the defensive exact-L filter mirrors the Spark side: an
      // underfilled pool drops the cell, never renders sub-L
      val winUnion = NiahLens.map(l =>
          s"SELECT * FROM w$l WHERE len(win) = $l")
        .mkString(" UNION ALL ")
      val depthValues = NiahDepthsPm.map(p => s"($p)").mkString(",")
      s"""WITH pool AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents WHERE doc_id < $NiahPoolDocs),
         |$winCtes,
         |wall AS ($winUnion),
         |grid AS (
         |  SELECT wall.*, CAST(d.depth_pm AS BIGINT) AS depth_pm
         |  FROM wall, (VALUES $depthValues) d(depth_pm)),
         |ex AS (
         |  SELECT *,
         |    (ctx_len - $NiahNeedleLen) * depth_pm // 1000 AS insert_pos,
         |    substr(md5(ctx_len || ':' || depth_pm || ':' || rep), 1, 8)
         |      AS key
         |  FROM grid),
         |ex2 AS (
         |  SELECT *, ('0x' || substr(md5(key), 1, 4))::BIGINT % 1000
         |    AS answer
         |  FROM ex),
         |ex3 AS (
         |  SELECT *,
         |    win[1 : CAST(insert_pos AS BIGINT)]
         |      || ['needle', 'key', key, 'holds', 'value',
         |          CAST(answer AS VARCHAR), 'end']
         |      || win[CAST(insert_pos + $NiahNeedleLen + 1 AS BIGINT) :
         |             CAST(ctx_len AS BIGINT)] AS render
         |  FROM ex2)
         |SELECT ctx_len, depth_pm, rep, n_docs,
         |  CAST(insert_pos AS BIGINT) AS insert_pos, key,
         |  CAST(answer AS BIGINT) AS answer,
         |  md5(array_to_string(win, ' ')) AS haystack_fp,
         |  md5(array_to_string(render, ' ')) AS render_fp
         |FROM ex3 ORDER BY ctx_len, depth_pm, rep""".stripMargin
    },
    // the composed pipeline: cluster reps (the q_dedup_apply CTE) ∩
    // Gopher keeps, then the seq-pack prefix sum and the shared
    // shard law over the SURVIVOR corpus only
    "q_pipeline_export" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.clusterLabelCtes},
         |reps AS (
         |  SELECT doc_id FROM (${graft.dedup.Dedup.clusterRankedSql}) t
         |  WHERE rk = 1),
         |gk AS (SELECT doc_id FROM (${Quality.gopherSql}) g WHERE keep),
         |sv AS (SELECT doc_id FROM reps
         |  WHERE doc_id IN (SELECT doc_id FROM gk)),
         |packed AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM (SELECT d.doc_id, d.source,
         |          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
         |        FROM documents d JOIN sv USING (doc_id)) t),
         |b AS (
         |  SELECT doc_id, source, n_tok,
         |    (running - n_tok) // 2048 AS bin
         |  FROM packed),
         |${nshSql("n_tok", "b")},
         |a AS (
         |  SELECT doc_id, source, n_tok, bin,
         |    ('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)),
         |      1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM b)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR))
         |    AS BIGINT) AS n_seqs,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "q_fim_transform" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS tk,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         |    ('0x' || substr(md5(text), 5, 4))::BIGINT % 1000 < $FimRatePm
         |      AS fim,
         |    ('0x' || substr(md5(doc_id || ':fim1'), 1, 8))::BIGINT AS h1,
         |    ('0x' || substr(md5(doc_id || ':fim2'), 1, 8))::BIGINT AS h2
         |  FROM documents),
         |cuts AS (
         |  SELECT doc_id, text, tk, n, fim,
         |    LEAST(h1 % (n + 1), h2 % (n + 1)) AS lo,
         |    GREATEST(h1 % (n + 1), h2 % (n + 1)) AS hi
         |  FROM base),
         |o AS (
         |  SELECT doc_id, fim, n,
         |    CASE WHEN fim THEN lo ELSE -1 END AS cut_lo,
         |    CASE WHEN fim THEN hi ELSE -1 END AS cut_hi,
         |    CASE WHEN fim THEN
         |      '<PRE> ' || coalesce(array_to_string(tk[1:lo], ' '), '') ||
         |      ' <SUF> ' || coalesce(array_to_string(tk[hi + 1:n], ' '), '') ||
         |      ' <MID> ' || coalesce(array_to_string(tk[lo + 1:hi], ' '), '')
         |    ELSE text END AS out
         |  FROM cuts)
         |SELECT doc_id, fim, n, CAST(cut_lo AS BIGINT) AS cut_lo,
         |  CAST(cut_hi AS BIGINT) AS cut_hi, md5(out) AS out_fp,
         |  CAST(length(out) AS BIGINT) AS out_chars
         |FROM o ORDER BY doc_id""".stripMargin,
    "q_chunk_overlap" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tk, n,
         |    1 + GREATEST(0,
         |      (n - $ChunkTokens + $ChunkStride - 1) // $ChunkStride)
         |      AS n_chunks
         |  FROM base WHERE n > 0),
         |e AS (
         |  SELECT doc_id, tk, n,
         |    unnest(generate_series(0, n_chunks - 1)) AS chunk
         |  FROM c)
         |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
         |  CAST(chunk * $ChunkStride AS BIGINT) AS tok_off,
         |  CAST(LEAST($ChunkTokens, n - chunk * $ChunkStride) AS BIGINT)
         |    AS tok_len,
         |  md5(array_to_string(
         |    tk[chunk * $ChunkStride + 1 :
         |       chunk * $ChunkStride + LEAST($ChunkTokens,
         |         n - chunk * $ChunkStride)], ' ')) AS chunk_fp
         |FROM e ORDER BY doc_id, chunk""".stripMargin,
    "q_shard_export_wrapped" ->
      s"""WITH packed AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM (SELECT doc_id, source,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |        FROM documents) t),
         |b AS (
         |  SELECT doc_id, source, n_tok, running - n_tok AS s0
         |  FROM packed WHERE n_tok > 0),
         |seg AS (
         |  SELECT doc_id, source, n_tok, s0,
         |    unnest(generate_series(s0 // 2048,
         |      (s0 + n_tok - 1) // 2048)) AS bin
         |  FROM b),
         |segs AS (
         |  SELECT doc_id, source, CAST(bin AS BIGINT) AS bin,
         |    CAST(LEAST(s0 + n_tok, (bin + 1) * 2048)
         |      - GREATEST(s0, bin * 2048) AS BIGINT) AS seg_tokens
         |  FROM seg),
         |${nshSql("seg_tokens", "segs")},
         |a AS (
         |  SELECT doc_id, source, bin, seg_tokens,
         |    ('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)),
         |      1, 12))::BIGINT % (SELECT n FROM nsh) AS shard
         |  FROM segs)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(DISTINCT source || ':' || CAST(bin AS VARCHAR))
         |    AS BIGINT) AS n_seqs,
         |  count(*) AS n_segs,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(seg_tokens) AS BIGINT) AS n_tokens,
         |  CAST(CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |      || ':' || CAST(bin AS VARCHAR)), 1, 8))::BIGINT) AS HUGEINT)
         |    % 1000000000000000000 AS BIGINT) AS fingerprint
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "q_corpus_shuffle" ->
      s"""SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
         |    AS BIGINT) AS pos, skey
         |FROM (SELECT doc_id,
         |        md5(doc_id || ':42') AS skey,
         |        ('0x' || substr(md5(doc_id || ':42'), 1, 3))::BIGINT % $ShuffleShards AS shard
         |      FROM documents) t
         |ORDER BY doc_id""".stripMargin,
    "q_reservoir_sample" ->
      s"""SELECT source, rk, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= $ReservoirK ORDER BY source, rk""".stripMargin,
    // A-ES priorities: the ranking keys on round(priority, 9) with a
    // doc_id tiebreak, so a last-ulp libm pow difference cannot move
    // a row (fixed corpora clear every rounding boundary by >=2.9e-5
    // grid units, measured)
    "q_weighted_sample" ->
      s"""WITH p AS (
         |  SELECT doc_id, source, n_chars,
         |    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws42'),
         |        1, 8))::BIGINT + 1.0) / 4294967296.0,
         |      1.0 / n_chars) AS priority
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY round(priority, 9) DESC, doc_id) AS rk
         |  FROM p)
         |SELECT source, rk, doc_id, n_chars
         |FROM r WHERE rk <= $ReservoirK ORDER BY source, rk""".stripMargin,
    "q_mixture_sample" ->
      """SELECT doc_id, lang, bucket, keep_w FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(text), 9, 4))::BIGINT % 100 AS bucket,
        |    CASE WHEN lang = 'en' THEN 50
        |         WHEN lang = 'zh' THEN 100 ELSE 80 END AS keep_w
        |  FROM documents) t
        |WHERE bucket < keep_w ORDER BY doc_id""".stripMargin,
    "q_temperature_sample" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_src FROM documents GROUP BY source),
        |m AS (SELECT min(n_src) AS n_min FROM counts),
        |rates AS (
        |  SELECT source,
        |    CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE) / n_src)) AS BIGINT) AS rate
        |  FROM counts, m)
        |SELECT doc_id, source, bucket, rate FROM (
        |  SELECT d.doc_id, d.source,
        |    ('0x' || substr(md5(d.text), 13, 4))::BIGINT % 1000 AS bucket, r.rate
        |  FROM documents d JOIN rates r USING (source)) t
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "q_quantile_bucket" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(ntile(10) OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS INT) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_length_hist" ->
      """SELECT lang, least(n_chars // 100, 9) AS bucket,
        |  count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
  )
}
