package graft.dedup

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` / `embeddings` — the core of
  * a training-data pipeline at 100 TB:
  *
  *  - exact: hash-groupBy on a content fingerprint (one shuffle of
  *    (fp, doc_id) pairs only — never the text payload);
  *  - n-gram Jaccard: exact pairwise similarity, with candidate pairs
  *    generated by a shared-shingle equi-join (the inverted-index
  *    trick: only documents sharing ≥1 shingle ever meet, so the join
  *    stays sparse instead of O(n²));
  *  - MinHash + LSH: 16-hash signatures banded 4×4; candidate pairs
  *    come from band-bucket equality (equi-join, shuffle on bucket),
  *    then exact Jaccard verifies. This is the 100 TB path: cost is
  *    O(docs × shingles) + O(candidates), independent of n²;
  *  - SimHash: 64-bit signature from token-hash bit votes; near-dups
  *    via 16-bit chunk banding + Hamming verify;
  *  - embedding near-dup: cosine threshold over candidate pairs
  *    (all-pairs here at test scale; the LSH-bucketed variant in
  *    graft.sim.Similarity is the scale path).
  *
  * Signature/banding queries have no DuckDB oracle (hash functions are
  * engine-specific) → rows-only checks; exact dedup / Jaccard /
  * cosine queries are fully oracled.
  */
object Dedup {

  /** q_dedup_lines segment width (tokens per pseudo-line) and the
    * distinct-document frequency at which a line counts as
    * boilerplate. Knobs, not scale parameters: the DF aggregate is
    * thin at any corpus size and the boilerplate set is heavy-tail
    * small by construction.
    */
  val LineTokens  = 16
  val LineDfBoiler = 3

  /** Distinct 3-token shingles per document — single-pass kernel
    * (graft.functions.Shingles3); the declarative
    * transform+slice+array_distinct equivalent evaluates interpreted
    * per element and dominated the profile.
    */
  private def shinglesOfText(s: SparkSession): Column = {
    graft.functions.HashFunctions.register(s)
    expr("shingles3(split(text, ' '))")
  }

  /** The exploded shingle inverted index — a write-once parquet layout
    * under the warehouse (`Layouts.ensureLayout`), shared by four
    * consumers (Jaccard join sides, cardinalities, cluster
    * propagation); Spark's exchange reuse does not fire across those
    * aliased subtrees, so without materialization the kernel would run
    * 4×. Built once per corpus, re-attached (never rebuilt) by later
    * sessions — the same write-once/query-many contract as the
    * bucketed tables.
    */
  private def shingleTable(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_shingle_idx") {
      graft.functions.HashFunctions.register(s)
      // The index carries xxhash64(shingle), not the shingle string:
      // the self-join then shuffles 8-byte longs instead of ~20-char
      // strings (the index is the biggest exchange in the dedup
      // family). A 64-bit collision can ADD a spurious candidate pair
      // (harmless — verification recomputes exact Jaccard from the
      // full string shingle sets) but can also merge two shingles'
      // document frequencies and push a rare shingle over ShingleDfCap,
      // DROPPING a true candidate. At ~2^-64 per shingle pair that risk
      // is accepted; computing DF pre-hash would close it at the cost
      // of shuffling strings.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("shingles3(split(text, ' '))")).as("s0"))
        .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    }

  /** Document-frequency cap for the candidate-generation index: a
    * shingle shared by k documents creates k²/2 join rows, so one
    * stop-phrase shingle ("of the and") can go quadratic at scale.
    * Shingles above the cap are dropped from CANDIDATE GENERATION
    * only — verification always uses the full shingle sets, so Jaccard
    * values stay exact. Output changes only if a true pair shares
    * exclusively hot shingles; measured on this corpus, every ≥0.5
    * pair shares a shingle with DF ≤ 10 (sf0.1), so 32 is output-
    * neutral here while bounding the worst case at 100 TB.
    */
  private[graft] val ShingleDfCap = 32

  /** Per-document distinct shingle sets (arrays) — the exact-verify
    * side of the Jaccard pipeline; pure map work via the kernel,
    * materialized as a write-once layout: both sides of the candidate
    * verify join, the minhash signature base, and decontamination
    * consume it, and exchange reuse never fires across those aliased
    * subtrees.
    */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_shingle_sets") {
      Tables.documents(s, d).select(col("doc_id"), shinglesOfText(s).as("sh"))
    }

  /** Exact Jaccard for candidate pairs sharing ≥1 below-cap shingle:
    * candidates from the DF-capped inverted index (sparse equi-join),
    * then exact verification against the full shingle sets
    * (`array_intersect` per candidate pair — never the n² pair space).
    */
  /** Candidate pairs from the DF-capped inverted index (exposed for
    * the scale probe, which records candidate growth vs corpus size).
    */
  private[graft] def jaccardCandidates(s: SparkSession, d: String,
      cap: Int = ShingleDfCap): DataFrame = {
    val sh = shingleTable(s, d)
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select(col("s"))
    val capped = sh.join(rare, "s")
    capped.as("a")
      .join(capped.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Shingles whose document frequency exceeds `cap` (exposed for the
    * scale probe, which must PROVE a cap binds before attributing a
    * flattened candidate exponent to it).
    */
  private[graft] def shinglesOverCap(s: SparkSession, d: String, cap: Int): Long =
    shingleTable(s, d).groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).count()

  private def exactJaccard(s: SparkSession, d: String): DataFrame = {
    val cand = jaccardCandidates(s, d)
    val sets = shingleSets(s, d)
    val sa = sets.select(col("doc_id").as("da"), col("sh").as("sha"))
    val sb = sets.select(col("doc_id").as("db"), col("sh").as("shb"))
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    val union = (size(col("sha")) + size(col("shb"))).cast("long") - inter
    cand.join(sa, "da").join(sb, "db")
      .select(col("da"), col("db"), inter.as("inter"), union.as("n_union"),
        (inter.cast("double") / union).as("jaccard"))
  }

  /** Verified near-dup pairs (Jaccard ≥ 0.5) — a write-once parquet
    * layout: `q_dedup_ngram_jaccard` and `q_dedup_clusters` both read
    * it (exchange reuse does not fire across separately-built plans),
    * and a later session re-attaches without recomputing the Jaccard
    * pipeline. PersistenceSpec pins the no-rebuild re-read.
    */
  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_neardup_pairs") {
      exactJaccard(s, d).filter(col("jaccard") >= 0.5)
    }

  /** Verified containment pairs (max directional containment ≥ 800‰)
    * — a write-once layout like `nearDupPairs`; the exact per-pair
    * verify runs once at ingest.
    */
  private[graft] def containmentPairs(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_containment_pairs") {
      val cand = jaccardCandidates(s, d)
      val sets = shingleSets(s, d)
      val sa = sets.select(col("doc_id").as("da"), col("sh").as("sha"))
      val sb = sets.select(col("doc_id").as("db"), col("sh").as("shb"))
      val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
      cand.join(sa, "da").join(sb, "db")
        .select(col("da"), col("db"), inter.as("inter"),
          size(col("sha")).cast("long").as("n_a"),
          size(col("shb")).cast("long").as("n_b"))
        .withColumn("cont_a_pm", expr("inter * 1000 div n_a"))
        .withColumn("cont_b_pm", expr("inter * 1000 div n_b"))
        .filter(greatest(col("cont_a_pm"), col("cont_b_pm")) >= 800)
    }

  /** One star-rewiring round over an undirected edge set held as
    * (src, dst) pairs. For each node u with neighborhood Γ(u), let
    * m = min(Γ(u) ∪ {u}); big-star connects every strictly-larger
    * neighbor to m, small-star connects every ≤-neighbor AND u itself
    * to m. Both preserve connectivity; alternating them converges to
    * the star forest of component minima in O(log n) rounds. Cost per
    * step: one shuffle for the neighborhood min, one equi-join on u,
    * one distinct — all over 16-byte edge rows, never payloads.
    */
  private def starStep(edges: DataFrame, large: Boolean): DataFrame = {
    val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = nbrs.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("m"))
    val rewired =
      if (large)
        nbrs.join(mins, "u").filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
      else
        nbrs.join(mins, "u").filter(col("v") < col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .union(mins.select(col("u").as("src"), col("m").as("dst")))
    rewired.filter(col("src") =!= col("dst")).distinct()
  }

  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** Sign-LSH shape for q_dedup_embed: 16 planes in 4 bands of 4 bits. */
  private val EmbedPlanes = 16
  private val EmbedBandBits = 4

  /** q_dedup_semantic cosine threshold — same corpus-calibrated 0.35
    * as q_dedup_embed (this synthetic corpus has no >0.5-cosine pairs;
    * real SemDeDup deployments run ~0.95+ on trained encoders).
    */
  private val SemDedupTau = 0.35

  /** MinHash/LSH candidate pairs (band-bucket equi-join; exposed for
    * the scale probe): 4×4 banded signatures from the shingle-set
    * layout, candidates where any band agrees.
    */
  /** Banded MinHash signatures as thin (doc_id, band, sig) rows — the
    * shared candidate-generation index behind both the self-join
    * (`minhashCandidates`) and the cross-corpus decontamination join
    * (`q_decontaminate_fuzzy`). 4×4 bands from the 16-hash signature;
    * every downstream exchange carries only (id, band, 8-byte sig).
    */
  private[graft] def minhashBandsOf(s: SparkSession, sets: DataFrame,
      idCol: String, shCol: String): DataFrame = {
    graft.functions.HashFunctions.register(s)
    val sig = sets.select(col(idCol),
      expr(s"minhash16($shCol)").as("msig"))
    bandsOfSigs(sig, idCol)
  }

  /** Banding of an already-computed (id, msig) signature table,
    * parameterized on the (bands × rowsPerBand) factorization of the
    * 16-hash signature — the shared construction behind the 4×4
    * production path and the q_dedup_lsh_tune sweep (which bands the
    * SAME checkpointed signature table three ways instead of
    * recomputing minhashes per config).
    */
  private[graft] def bandsOfSigs(sig: DataFrame, idCol: String,
      bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame =
    sig.select(col(idCol), explode(array(
      (0 until bands).map { b =>
        val hs = (0 until rowsPerBand).map(r =>
          element_at(col("msig"), b * rowsPerBand + r + 1))
        struct(lit(b).as("band"), xxhash64(hs: _*).as("sig"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))

  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame =
    minhashBandsOf(s, shingleSets(s, d), "doc_id", "sh")

  private[graft] def minhashCandidates(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(s, d)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Edit budget for fuzzy matching: pairs beyond this distance are
    * not near-dups. Also bounds the per-pair verify cost (below). */
  private val FuzzyEditBudget = 16

  /** Span-dedup window width: a token run is "shared" when a SpanK-
    * token window of it appears verbatim in another document — the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") ExactSubstr shape at token granularity.
    */
  private val SpanK = 8

  /** Span-dedup inverted index: one (doc_id, pos, gh) row per SpanK-
    * token window, gh = xxhash64 of the window string. The hash is
    * computed INSIDE the per-row projection, so no window text ever
    * enters an exchange — every downstream shuffle moves 8-byte
    * hashes and ids only (PlanSpec pins this). Same 2^-64 collision
    * stance as `shingleTable`: a collision can flag a spurious span,
    * accepted at that probability. Unlike pairwise dedup there is NO
    * quadratic risk to cap here: the consumer is a per-gram doc
    * count (partial-aggregated group-by) plus a semi-join back —
    * a hot window raises one count, it never fans out into pairs —
    * so the whole pipeline is linear in corpus tokens by shape.
    */
  private[graft] def spanIndex(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= SpanK)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${SpanK - 1}),
           |  i -> struct(i AS pos,
           |    xxhash64(array_join(slice(toks, i, $SpanK), ' ')) AS gh))"""
          .stripMargin)).as("w"))
      .select(col("doc_id"), col("w.pos").cast("long").as("pos"), col("w.gh"))

  /** Merged shared-span manifest — a write-once parquet layout
    * (doc_id, span_start, span_end, span_tokens), the artifact span
    * discovery leaves behind for the cleaning pass (and any audit) to
    * consume: built once per corpus, re-attached by later sessions
    * (PersistenceSpec pins no-rebuild). Pipeline: spanIndex → per-gram
    * distinct-doc count ≥ 2 (partial-aggregated group-by — a hot
    * boilerplate window raises one count, never a pair fan-out, so no
    * DF cap is needed for scale) → semi-join flags positions →
    * gaps-and-islands merge (window over doc_id, break when the gap
    * exceeds SpanK) into maximal disjoint spans. Every exchange
    * carries only (hash, id, pos) — pinned by PlanSpec.
    */
  private[graft] def spanManifest(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_spans") {
      spanPipeline(s, d)
    }

  /** The manifest-building pipeline (exposed for PlanSpec's
    * thin-exchange pin — the registered query reads the WRITTEN
    * manifest, so the shape that must stay thin is this build).
    */
  private[graft] def spanPipeline(s: SparkSession, d: String): DataFrame = {
      val idx = spanIndex(s, d)
      val shared = idx.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("gh"))
      mergeSpans(idx.join(shared, "gh").select(col("doc_id"), col("pos")))
    }

  /** Gaps-and-islands merge of flagged window positions into maximal
    * disjoint spans (exposed for SpanMergePropertySpec, which checks
    * it against a reference interval-union): each (doc_id, pos) row
    * covers tokens [pos, pos+SpanK-1]; islands break where the
    * position gap exceeds SpanK (beyond overlap-or-adjacency).
    */
  private[graft] def mergeSpans(flagged: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      flagged
        .withColumn("brk",
          when(col("pos") - lag(col("pos"), 1).over(w) > SpanK, 1).otherwise(0))
        .withColumn("island", sum(col("brk")).over(wRun))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + (SpanK - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_tokens"))
    }

  /** Blocked fuzzy-match candidates with their edit distance, BEFORE
    * the edit-budget filter (exposed for `Tools scale`): prefix-32
    * blocking, hot blocks (>64 docs) excluded before the self-join.
    *
    * Shaped like the KNN thin index after a 9.9 s sf0.1 bench of the
    * naive form: (a) the candidate self-join carries only
    * (doc_id, blk, len) — document text never enters the block
    * exchange, and the length-band prefilter (|len(a)−len(b)| lower-
    * bounds the edit distance) prunes over-budget pairs before any DP
    * runs; (b) texts are fetch-joined per surviving pair, so the
    * verify runs once per candidate instead of riding the block-join
    * condition across every in-block combination; (c) the verify is
    * the THRESHOLD levenshtein — banded DP, O(len·budget) not
    * O(len²), returning -1 past the budget so the final filter is the
    * single conjunct `edit_dist >= 0`. Levenshtein measured ~0.26 ms
    * per 300-char pair (0.13 ms banded): at 100 TB the verify budget
    * is spent strictly on candidates, never on block cross-products.
    */
  private[graft] def fuzzyCandidates(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // length computed from the text itself (not the n_chars column):
    // the band must lower-bound the edit distance by construction
    val p = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("blk"), length(col("text")).as("len"))
    val cold = p.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= 64).select(col("blk"))
    val t = p.join(cold, "blk")
    val pairs = t.as("a").join(t.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= FuzzyEditBudget)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    pairs
      .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      .select(col("da"), col("db"),
        levenshtein(col("ta"), col("tb"), FuzzyEditBudget)
          .cast("long").as("edit_dist"))
  }

  /** Corpus fingerprint registry — a write-once parquet layout
    * (fp → keeper doc_id), the thing incremental ingest dedups
    * against. At 100 TB this registry is the warehouse artifact the
    * exact-dedup pass leaves behind; it is built once and every later
    * batch joins against it instead of rescanning the corpus.
    */
  private[graft] def fpRegistry(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "fp_registry") {
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"))
    }

  /** Synthetic ingest batch for the incremental-dedup queries:
    * docs %7==3 re-keyed unchanged (every one must hit the registry)
    * and docs %7==4 with a revision marker appended (every one must
    * miss). New ids are offset by max(doc_id)+1 (a 1-row broadcast),
    * so the two batch ranges stay disjoint from real doc_ids AND each
    * other at any corpus size — fixed constants would collide past
    * 100k docs; `batch_src` labels each half so downstream (and the
    * specs) never infer provenance from the id range.
    */
  private[graft] def ingestBatch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val off = docs.agg((max(col("doc_id")) + 1L).as("off"))
    docs.filter(col("doc_id") % 7 === 3)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("new_id"),
        lit("reingest").as("batch_src"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 7 === 4)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("off") * 2).as("new_id"),
          lit("revision").as("batch_src"),
          concat(col("text"), lit(" rev2")).as("text")))
  }

  /** Connected-component labels over the near-dup pair graph:
    * (doc_id, cluster_keeper) for every clustered document, keeper =
    * component minimum — as a WRITE-ONCE layout: the labels are a
    * deterministic function of the written pair layout, and both
    * consumers (cluster listing, dedup-apply manifest) are read-side
    * queries, so the O(log n)-round fixpoint iteration runs once per
    * corpus at ingest, not once per query (it was the heaviest
    * non-streaming bench entry, 2.8 s at sf0.1, recomputed per call).
    */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "dedup_cluster_labels") {
      clusterLabelsPipeline(s, d)
    }

  /** The label-building fixpoint (exposed for spec pinning):
    * alternating big-star/small-star rewiring with an exact
    * set-equality fixpoint witness; `localCheckpoint` truncates
    * lineage each round — the standard iterative pattern.
    */
  private[graft] def clusterLabelsPipeline(s: SparkSession, d: String): DataFrame = {
    val pairs = nearDupPairs(s, d).select(col("da"), col("db"))
    var edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .distinct().localCheckpoint(true)
    var prevCount = edges.count()
    var converged = false
    var round = 0
    while (!converged && round < 12) {
      round += 1
      val next = starStep(starStep(edges, large = true), large = false)
        .localCheckpoint(true)
      val nextCount = next.count()
      converged = nextCount == prevCount &&
        edges.union(next).distinct().count() == prevCount
      // the fixpoint witness above was this round's last read of the
      // superseded edge set — release its blocks (§5)
      graft.Checkpoints.release(edges)
      edges = next
      prevCount = nextCount
    }
    // At fixpoint every edge is (node, component-min); component
    // minima appear only on the dst side, so union them in as their
    // own keepers.
    edges.select(col("src").as("doc_id"), col("dst").as("cluster_keeper"))
      .union(edges.select(col("dst").as("doc_id"),
        col("dst").as("cluster_keeper")))
      .groupBy(col("doc_id"))
      .agg(min(col("cluster_keeper")).as("cluster_keeper"))
  }

  /** One representative per near-dup cluster — q_dedup_apply's law
    * (largest doc wins, doc_id tiebreak; singletons represent
    * themselves) over the shared written label layout. ONE definition
    * site, shared with the composed pipeline keep set
    * (`Corpus.pipelineSurvivors`) so a tiebreak or keeper-law change
    * can never de-sync the two consumers.
    */
  private[graft] def clusterReps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(s, d)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster_keeper"), col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("rep"), col("n_members"))
  }

  /** The representative RANKING as an oracle fragment over `labels`
    * (doc_id, cluster_keeper) + documents — the SQL mirror of
    * [[clusterReps]] before its rk = 1 filter; shared by the
    * q_dedup_apply oracle and the composed pipeline oracle.
    */
  private[graft] val clusterRankedSql: String =
    """SELECT coalesce(l.cluster_keeper, d.doc_id) AS cluster, d.doc_id,
      |    d.n_chars,
      |    row_number() OVER (
      |      PARTITION BY coalesce(l.cluster_keeper, d.doc_id)
      |      ORDER BY d.n_chars DESC, d.doc_id) AS rk,
      |    count(*) OVER (
      |      PARTITION BY coalesce(l.cluster_keeper, d.doc_id)) AS n_members
      |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content hash, keep the smallest doc_id.
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("fp"))),

    // Incremental (delta) dedup: classify a NEW ingest batch against
    // the corpus's written fingerprint registry without touching the
    // corpus itself — the production shape, where dedup state is a
    // warehouse layout, not a rescan (batch construction: see
    // `ingestBatch`). One thin equi-join on fp: the batch is
    // broadcast-size relative to the registry at any real scale, and
    // the registry itself never re-shuffles payloads — it IS
    // (fp, keeper) pairs.
    "q_dedup_incremental" -> ((s, d) => {
      ingestBatch(s, d).select(col("new_id"), col("batch_src"),
          md5(col("text").cast("binary")).as("fp"))
        .join(fpRegistry(s, d), Seq("fp"), "left")
        .select(col("new_id"), col("batch_src"),
          when(col("keeper").isNotNull, "duplicate").otherwise("new")
            .as("status"),
          col("keeper"))
        .orderBy(col("new_id"))
    }),

    // Bloom-prefiltered incremental dedup — the scale twin of
    // q_dedup_incremental (same batch, same exact output, same
    // oracle): at 100 TB the fp registry is billions of rows, and a
    // batch row that is NOT in the registry should never enter the
    // registry join's exchange at all. One aggregate folds the
    // registry's fps into a constant-size bloom sketch (the
    // `graft_bloom_agg` kernel — Spark's own runtime-filter codepath,
    // a few MB of bits regardless of registry cardinality); the batch
    // is partitioned by `might_contain`: bloom-NEGATIVE rows are
    // definitively new (no false negatives) and short-circuit to the
    // answer with NO join, while only the bloom-positive sliver joins
    // the registry exactly — resolving true duplicates from the
    // sketch's false positives. The join input shrinks from |batch|
    // to |duplicates| + fpr·|batch| rows; the output stays EXACT,
    // which is why this query shares the plain form's oracle. Bloom
    // sizing (64k items / 1 Mbit ⇒ sub-1% fpr) covers the registry
    // through test SFs; a deployment sizes it from the registry's
    // written row count — the sketch stays sub-linear (bits ∝ items)
    // while the avoided exchange is the registry itself.
    "q_dedup_incremental_bloom" -> ((s, d) => {
      graft.functions.SketchFunctions.register(s)
      fpRegistry(s, d).createOrReplaceTempView("graft_incr_reg")
      ingestBatch(s, d)
        .select(col("new_id"), col("batch_src"),
          md5(col("text").cast("binary")).as("fp"))
        .createOrReplaceTempView("graft_incr_batch")
      s.sql(
        """WITH flagged AS (
          |  SELECT new_id, batch_src, fp,
          |    graft_bloom_contains(
          |      (SELECT graft_bloom_agg(xxhash64(fp), 65536L, 1048576L)
          |       FROM graft_incr_reg),
          |      xxhash64(fp)) AS maybe
          |  FROM graft_incr_batch)
          |SELECT new_id, batch_src, 'new' AS status,
          |       CAST(NULL AS BIGINT) AS keeper
          |FROM flagged WHERE NOT maybe
          |UNION ALL
          |SELECT f.new_id, f.batch_src,
          |  CASE WHEN r.keeper IS NOT NULL THEN 'duplicate' ELSE 'new' END
          |    AS status,
          |  r.keeper
          |FROM (SELECT new_id, batch_src, fp FROM flagged WHERE maybe) f
          |LEFT JOIN graft_incr_reg r USING (fp)
          |ORDER BY new_id""".stripMargin)
    }),

    // Exact 3-gram Jaccard near-dup pairs (threshold 0.5).
    "q_dedup_ngram_jaccard" -> ((s, d) =>
      nearDupPairs(s, d)
        .select(col("da"), col("db"), col("inter"), col("n_union"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db"))),

    // CONTAINMENT detection — the asymmetric Jaccard |A∩B|/|A|: a
    // short document quoted verbatim inside a longer one has LOW
    // Jaccard (the union is dominated by the host) but containment
    // ≈ 1, so symmetric near-dup passes miss exactly the
    // quote/subset-duplication case this flags (the Broder 1997
    // distinction). Same DF-capped candidate index and shingle-set
    // verify as q_dedup_ngram_jaccard — one more integer column per
    // candidate pair, zero new shuffles; per-mille integers make the
    // threshold exact cross-engine. Like the verified Jaccard pairs,
    // the result is a WRITE-ONCE layout (`containmentPairs`): the
    // candidate verify is a one-time ingest cost (21 s at sf0.1 in
    // the pre-cap candidate regime), later readers re-attach. Fully
    // oracled.
    "q_dedup_containment" -> ((s, d) =>
      containmentPairs(s, d).orderBy(col("da"), col("db"))),

    // Substring-level (span) dedup — the Lee et al. 2022 ExactSubstr
    // shape: maximal token runs covered by some 8-token window that
    // appears verbatim in ANOTHER document. Where the pairwise dedup
    // family answers "which documents are near-dups", this answers
    // "which token ranges inside each document are repeated corpus
    // text" — the thing a training pipeline actually removes. Reads
    // the write-once span manifest (`spanManifest`). 1-based token
    // indices, span_end inclusive. Exact at test scale → full DuckDB
    // oracle (the oracle matches on gram STRINGS; the 2^-64
    // hash-collision stance is shared with the shingle index).
    "q_dedup_spans" -> ((s, d) =>
      spanManifest(s, d).orderBy(col("doc_id"), col("span_start"))),

    // APPLY the span manifest: rewrite each document with its shared
    // spans removed — the actual Lee et al. cleaning step a training
    // pipeline runs after span discovery. One equi-join of the corpus
    // against the per-doc span ARRAYS (the manifest collapses to one
    // small row per affected doc; docs without spans pass through the
    // left join untouched), then a pure per-row token filter —
    // O(tokens × spans-in-doc) map work, ZERO extra shuffle: the text
    // never moves, the spans come to it. Fully oracled (DuckDB
    // reproduces the rewrite relationally).
    "q_dedup_spans_apply" -> ((s, d) => {
      val spans = spanManifest(s, d)
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("span_start"), col("span_end")))
          .as("spans"))
      Tables.documents(s, d)
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("spans").isNull, col("text")).otherwise(expr(
            """array_join(filter(transform(split(text, ' '),
              |  (tok, i) -> IF(exists(spans,
              |      sp -> i + 1 >= sp.span_start AND i + 1 <= sp.span_end),
              |    NULL, tok)), x -> x IS NOT NULL), ' ')""".stripMargin))
            .as("clean_text"),
          coalesce(expr(
            """aggregate(spans, 0L,
              |  (acc, sp) -> acc + sp.span_end - sp.span_start + 1)"""
              .stripMargin), lit(0L)).as("n_removed"))
        .orderBy(col("doc_id"))
    }),

    // LINE-level boilerplate dedup (the CCNet/RefinedWeb per-line
    // pass, Wenzek et al. 2020): hash each normalized line, count the
    // number of DISTINCT documents it appears in corpus-wide, and
    // strip lines above a document-frequency threshold — headers,
    // footers, cookie banners. The corpus here has no newlines, so
    // "lines" are deterministic 16-token segments (the same
    // segmentation both engines derive from the token array); the
    // mechanism — normalize → hash → corpus DF → filter → rebuild —
    // is exactly the production pass. Scale shape: the ONLY full-data
    // exchange carries thin (doc_id, line_no, 16-byte hash) rows into
    // a map-combined distinct-doc count; the boilerplate hash set
    // (lines with DF ≥ threshold — a tiny, heavy-tail set at any
    // corpus size) broadcasts back twice (semi-join to locate hits,
    // then the per-doc drop manifest, itself |hits|-sized, broadcasts
    // onto the corpus scan), so document TEXT never enters any
    // exchange — the q_dedup_spans_apply contract. Fully oracled.
    "q_dedup_lines" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val lines = docs.select(col("doc_id"),
          explode(expr(s"sequence(0L, CAST((size(tk) - 1) div $LineTokens AS BIGINT))"))
            .as("line_no"), col("tk"))
        .select(col("doc_id"), col("line_no"),
          md5(expr(s"CAST(array_join(slice(tk, CAST(line_no * $LineTokens + 1 AS INT), $LineTokens), ' ') AS BINARY)"))
            .as("h"))
      val boiler = lines.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= LineDfBoiler).select(col("h"))
      val drops = lines.join(broadcast(boiler), Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("line_no"))).as("drop"),
          count(lit(1)).as("n_dropped"))
      docs.join(broadcast(drops), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"CAST((size(tk) + ${LineTokens - 1}) div $LineTokens AS BIGINT)")
            .as("n_lines"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          md5(expr(
            s"""CAST(array_join(flatten(transform(
               |  filter(sequence(0L, CAST((size(tk) - 1) div $LineTokens AS BIGINT)),
               |         i -> NOT array_contains(coalesce(drop, array()), i)),
               |  i -> slice(tk, CAST(i * $LineTokens + 1 AS INT), $LineTokens))),
               |  ' ') AS BINARY)""".stripMargin)).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy (edit-distance) near-dup pairs via prefix blocking — the
    // record-linkage shape: block on the first 32 characters (a
    // sorted-neighborhood key), verify candidates with full
    // Levenshtein, keep pairs within an absolute edit budget. The
    // self-join is an equi-join on the block key, so candidates exist
    // only inside blocks; hot blocks (boilerplate prefixes — the
    // analog of stop-shingles) are capped at 64 docs and excluded
    // BEFORE the join, bounding per-key work the same way the shingle
    // index caps document frequency. Each doc's text ships once into
    // its single block: O(N) shuffle, never O(N²) compare.
    "q_dedup_fuzzy_edit" -> ((s, d) =>
      fuzzyCandidates(s, d)
        // bounded levenshtein signals "over budget" as -1, so one
        // conjunct suffices (and only it rides the fetch join)
        .filter(col("edit_dist") >= 0)
        .orderBy(col("da"), col("db"))),

    // MinHash/LSH candidates + exact-Jaccard verification. FULLY
    // ORACLED (round 13): the DuckDB oracle GENERATES the entire
    // signature pipeline — variable-length XXH64 base hash, 16
    // hashLong lanes, signed minima, banded multi-arg-xxhash64 folds
    // (graft.functions.XXH64Sql) — so the probabilistic candidate
    // stage is hash-checked, not just the verified output.
    //
    // Signatures are per-row array folds (min over shingle hashes per
    // seed) — zero shuffle until the band-bucket join, and candidate
    // verification touches only candidate pairs (array_intersect over
    // the two shingle sets), never the n² pair space. This is the part
    // that holds at 100 TB: cost = O(docs·shingles) + O(candidates).
    "q_dedup_minhash" -> ((s, d) => {
      val base = shingleSets(s, d)
      val cand = minhashCandidates(s, d)
      val sa = base.select(col("doc_id").as("da"), col("sh").as("sha"))
      val sb = base.select(col("doc_id").as("db"), col("sh").as("shb"))
      val inter = size(array_intersect(col("sha"), col("shb")))
      val union = size(col("sha")) + size(col("shb")) - inter
      cand.join(sa, "da").join(sb, "db")
        .select(col("da"), col("db"),
          (inter.cast("double") / union).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db"))
    }),

    // Candidate-stage dedup evaluation — the q_ann_recall_eval twin
    // for the dedup family: measure the MinHash BANDING generator's
    // candidate recall/precision against the exact verified near-dup
    // pair set (the written `nearDupPairs` layout). This is the
    // monitoring metric a production pipeline tracks when tuning
    // bands×rows: verified output equals exact BY CONSTRUCTION (the
    // verify stage filters candidates), so the number that can drift
    // is whether banding SURFACED the true pairs — exactly what this
    // publishes. Composition of two written layouts plus two thin
    // pair joins; per-mille integers. FULLY ORACLED (round 13, the
    // XXH64Sql machinery); DedupSpec additionally pins the recall
    // floor.
    "q_dedup_eval" -> ((s, d) => {
      val truth = nearDupPairs(s, d).select(col("da"), col("db"))
      val cand = minhashCandidates(s, d)
      val hit = truth.join(cand, Seq("da", "db"), "leftsemi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          expr("n_hit * 1000 div n_true").as("recall_pm"),
          expr("n_hit * 1000 div n_cand").as("precision_pm"))
    }),

    // Banding-configuration SWEEP — the tuning study behind the 4×4
    // default: candidate recall/precision of every (bands × rows)
    // factorization of the 16-hash signature against the exact
    // verified pair set. The S-curve theory (P(candidate) =
    // 1−(1−J^rows)^bands) says more, shorter bands ⇒ higher recall
    // and more noise; this measures it on THIS corpus — the artifact
    // a pipeline consults before retuning. The 16-hash signature
    // table is computed ONCE from the shingle-set layout and
    // localCheckpoint'd; each config is then one thin banding
    // projection + band exchange over that shared table (bandsOfSigs
    // — the production path's own construction, parameterized), so
    // the sweep never recomputes minhashes and corpus text is
    // untouched. FULLY ORACLED (round 13): the oracle generates ONE
    // lane table and rebands it three ways, mirroring bandsOfSigs'
    // parameterization; DedupSpec additionally pins the monotonicity
    // the theory promises.
    "q_dedup_lsh_tune" -> ((s, d) => {
      val truth = nearDupPairs(s, d).select(col("da"), col("db"))
        .localCheckpoint()
      graft.functions.HashFunctions.register(s)
      val sig = shingleSets(s, d)
        .select(col("doc_id"), expr("minhash16(sh)").as("msig"))
        .localCheckpoint()
      val configs = Seq((8, 2), (4, 4), (2, 8))
      configs.map { case (nb, rpb) =>
        val bands = bandsOfSigs(sig, "doc_id", nb, rpb)
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        val hit = truth.join(cand, Seq("da", "db"), "leftsemi")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(lit(nb.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
            col("n_true"), col("n_cand"), col("n_hit"),
            expr("n_hit * 1000 div n_true").as("recall_pm"),
            expr("n_hit * 1000 div n_cand").as("precision_pm"))
      }.reduce(_ unionAll _).orderBy(col("rows_per_band"))
    }),

    // SimHash near-dup: 64-bit bit-vote signature, 4×16-bit band
    // candidates, Hamming-distance verify. FULLY ORACLED (round 13):
    // the oracle generates the per-token XXH64 and the 64 bit-votes
    // (bit set iff 2·ones > n) with the signed bit-63 assembly.
    //
    // The signature is one per-row kernel call (graft.functions
    // .SimHash64): no explode, no shuffle — at scale, signature
    // computation is pure map work inside WholeStageCodegen.
    "q_dedup_simhash" -> ((s, d) => {
      graft.functions.HashFunctions.register(s)
      val sigs = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("simhash64(array_distinct(split(text, ' ')))").as("simhash"))
      val chunks = sigs.select(col("doc_id"), col("simhash"), explode(array(
        (0 until 4).map(c => struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)
            .as("v"))): _*)).as("cv"))
        .select(col("doc_id"), col("simhash"),
          col("cv.chunk").as("chunk"), col("cv.v").as("v"))
      chunks.as("x")
        .join(chunks.as("y"),
          col("x.chunk") === col("y.chunk") && col("x.v") === col("y.v") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        // Hamming verify BEFORE the distinct: the XOR popcount is a
        // per-row map, so filtering first means the dedup exchange
        // carries only verified near-pairs (a random chunk collision
        // has hamming ≈ 32, far over the bound) instead of every
        // candidate — hamming is a pure function of the pair, so
        // duplicates filter identically and the result is unchanged.
        .filter(col("hamming") <= 8)
        .distinct()
        .orderBy(col("da"), col("db"))
    }),

    // Connected components over the near-dup pair graph: every
    // clustered document labeled with the smallest doc_id in its
    // component (the canonical "keeper"). Alternating big-star /
    // small-star rounds (Kiveris et al., "Connected Components in
    // MapReduce and Beyond", 2014): each round rewires the edge set
    // toward a star forest whose centers are the component minima —
    // provably O(log n) rounds even on chain-shaped components, vs
    // O(diameter) for plain label propagation. Each star step is one
    // groupBy + one equi-join over thin (long, long) edges, and the
    // fixpoint (the edge set maps to itself, i.e. it IS a star
    // forest) is witnessed exactly by two scalar counts — edge sets
    // under star rewiring are not monotone, so a label-sum probe
    // carries no proof here; set equality does. A hard ceiling of 12
    // rounds (components of ~2^12 nodes) remains as a runaway guard.
    // Oracle: recursive-CTE transitive closure.
    "q_dedup_clusters" -> ((s, d) =>
      clusterLabels(s, d).orderBy(col("doc_id"))),

    // DUPLICATE-CLUSTER size DISTRIBUTION — the dedup observability
    // readout (q_graph_degree_dist's dedup twin): log2-binned sizes
    // of the connected near-dup clusters plus the singleton mass,
    // answering the question a pipeline asks before applying dedup —
    // is duplication a long tail of pairs or a few giant clusters
    // (template spam)? Giant clusters shift the keep-rate math and
    // flag boilerplate the pair-level reports hide. Shape: the
    // written cluster-label layout collapses to ≤ |clusters| thin
    // rows, then to ≤ 64 bins; singleton row from two 1-row
    // aggregates; integer log2 (length(bin(n)) − 1, no libm);
    // shares per-mille of the corpus. Fully oracled (composes the
    // cluster CC SQL).
    "q_dedup_cluster_dist" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val binned = labels.groupBy(col("cluster_keeper"))
        .agg(count(lit(1)).as("csize"))
        .select(expr("CAST(length(bin(csize)) - 1 AS BIGINT)")
          .as("size_bin"), col("csize"))
        .groupBy(col("size_bin"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      val totDocs = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_total"))
      val clustered = labels.agg(count(lit(1)).as("n_clustered"))
      // singletons land in bin 0 (size 1); real clusters are ≥ 2 so
      // the union never collides
      val single = totDocs.crossJoin(clustered)
        .select(lit(0L).as("size_bin"),
          (col("n_total") - col("n_clustered")).as("n_clusters"),
          (col("n_total") - col("n_clustered")).as("n_docs"))
      binned.unionByName(single)
        .crossJoin(broadcast(totDocs))
        .select(col("size_bin"), col("n_clusters"), col("n_docs"),
          expr("n_docs * 1000 div n_total").as("share_pm"))
        .orderBy(col("size_bin"))
    }),

    // APPLY the near-dup clusters: materialize the deduplicated
    // corpus manifest — one representative per cluster, chosen by
    // quality (longest text, doc_id tiebreak), singletons passing
    // through as their own cluster. Detection without this stage
    // never shrinks the corpus; this is the row a training pipeline
    // actually reads. The ranking window partitions by cluster —
    // near-dup clusters are small by construction, so no partition
    // ever concentrates the corpus.
    "q_dedup_apply" -> ((s, d) =>
      clusterReps(s, d).orderBy(col("cluster"))),

    // SOFT deduplication (He et al., "SoftDedup: an Efficient Data
    // Reweighting Method for Speeding Up Language Model Pre-training",
    // ACL 2024): instead of DROPPING near-duplicates (q_dedup_apply),
    // keep every document and DOWN-WEIGHT it by its duplication
    // degree — sampling weight ∝ 1/|cluster|, so each near-dup
    // cluster contributes one document's worth of expected training
    // mass while retaining the intra-cluster diversity a hard drop
    // discards. Weights are integer ppm (1000000 div csize — the
    // library no-libm discipline); singletons weigh exactly 10^6.
    // Shape: the written cluster-label layout collapses to ≤|clusters|
    // thin (keeper, size) rows, then two thin equi-joins back to the
    // corpus ids — no text moves, nothing quadratic, and the expensive
    // CC fixpoint is the shared write-once layout. At 100 TB both join
    // sides are id-width columns; the cluster-size table is NOT
    // broadcast (|clusters| grows with the corpus). Fully oracled
    // (composes the cluster CC SQL).
    "q_dedup_soft" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val sizes = labels.groupBy(col("cluster_keeper"))
        .agg(count(lit(1)).as("n_members"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_keeper"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_keeper"), col("doc_id")).as("cluster"),
          coalesce(col("n_members"), lit(1L)).as("n_members"))
        .withColumn("weight_ppm",
          expr("CAST(1000000 div n_members AS BIGINT)"))
        .orderBy(col("doc_id"))
    }),

    // Embedding near-dup pairs, sign-LSH candidates + exact cosine
    // verify (threshold 0.35 — the synthetic corpus has no
    // >0.5-cosine pairs). The candidate join is a band-bucket
    // equi-join (shuffle on (band, sig) only), never a cartesian —
    // the 100 TB shape; at scale the bit count per band grows with
    // log(n) to keep buckets bounded.
    //
    // The DuckDB oracle mirrors the SAME seeded hyperplane bucketing
    // (constants embedded in the SQL, dot products bit-identical), so
    // the query stays fully hash-oracled. An all-pairs oracle cannot
    // work here: measured on this corpus, passing pairs hug the 0.35
    // threshold (max 0.378 — tail-of-random, no cluster structure),
    // where any sub-quadratic candidate generator has recall < 1.
    "q_dedup_embed" -> ((s, d) =>
      embedNearDupPairs(s, d)
        .select(col("va"), col("vb"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("va"), col("vb"))),

    // Semantic dedup, SemDeDup-style (Abbas et al. 2023): cluster the
    // corpus, then de-dup ONLY within clusters — any vector whose
    // cosine to an earlier same-cluster member reaches the threshold
    // is dropped; the survivors are the kept-corpus manifest. The
    // clustering is the WRITTEN k-means IVF cell layout
    // (sim/Similarity.scala ivfIndex — shared, built once per corpus),
    // so this query adds no fit work, and the pair join is an
    // equi-join on the cell id, never a cartesian (pinned in
    // SemanticDedupSpec). Cross-cell near-dups are missed BY DESIGN —
    // that is SemDeDup's published recall trade: per-cell all-pairs is
    // O(n²/k), and k tracks ⌈n/128⌉ above a 16-cell floor
    // (Similarity.adaptiveIvfK — cells stay ~constant-sized), so the
    // candidate volume per vector is flat at 100 TB while a global
    // pairwise pass is quadratic; `Tools scale` measures the exponent at
    // the floor vs under the adaptive law. Differs from
    // q_dedup_embed (sign-LSH bands: probabilistic buckets, global
    // reach) in exactly the way SemDeDup differs from MinHash-style
    // LSH: deterministic partition-local exactness vs randomized
    // global recall. Rows-only (k-means has no DuckDB analog);
    // SemanticDedupSpec re-derives the drop set brute-force per cell
    // and pins set equality.
    "q_dedup_semantic" -> ((s, d) => {
      VectorFunctions.register(s)
      val idx = graft.sim.Similarity.ivfIndex(s, d)
        .select(col("vec_id"), col("embedding"), col("cell").cast("int").as("cell"))
      val pairs = idx.select(col("cell"), col("vec_id").as("va"),
          col("embedding").as("ea"))
        .join(idx.select(col("cell"), col("vec_id").as("vb"),
          col("embedding").as("eb")), "cell")
        .filter(col("va") < col("vb"))
        .withColumn("cos_sim", VectorFunctions.cosineSim(s, "ea", "eb"))
        .filter(col("cos_sim") >= SemDedupTau)
      val dropped = pairs.select(col("vb").as("vec_id")).distinct()
      idx.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    })
  )

  /** DuckDB-side per-document shingle sets (mirrors `shingleSets`). */
  private[graft] val shingleSetsSql =
    """SELECT doc_id, CASE WHEN len(l) >= 3
      |    THEN list_distinct(list_transform(generate_series(1, len(l) - 2),
      |         i -> array_to_string(l[i:i+2], ' ')))
      |    ELSE [array_to_string(l, ' ')] END AS sh
      |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) toks""".stripMargin

  /** Mirrors `exactJaccard`: DF-capped candidate index, full-set
    * verification via list_intersect.
    */
  private[graft] val exactJaccardSql =
    s"""WITH sets AS ($shingleSetsSql),
       |sh AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $ShingleDfCap),
       |capped AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id)
       |SELECT da, db,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |  CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_union,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |FROM cand JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id""".stripMargin

  /** The connected-component cluster labels as a reusable CTE list
    * (caller prepends `WITH RECURSIVE`): transitive closure of the
    * verified near-dup pairs, labels = (doc_id, cluster_keeper =
    * component min). Shared by the cluster oracles here and the
    * leakage-safe split oracle (graft.text.Splits).
    */
  private[graft] val clusterLabelCtes: String =
    s"""jp AS (
       |  SELECT da, db FROM ($exactJaccardSql) j WHERE jaccard >= 0.5),
       |edges AS (SELECT da AS a, db AS b FROM jp
       |          UNION ALL SELECT db, da FROM jp),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster_keeper
       |  FROM reach GROUP BY a)""".stripMargin

  /** The embedding near-dup pair set (va < vb, cos ≥ 0.35) behind
    * q_dedup_embed — sign-LSH band candidates verified with the
    * codegen'd cosine; shared with the hard-negative miner
    * (`q_sim_hard_negatives`), which uses these pairs as its positive
    * exclusion set.
    */
  private[graft] def embedNearDupPairs(s: SparkSession, d: String): DataFrame = {
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val bands = e.select(col("vec_id"),
        posexplode(expr(s"plane_sigs(embedding, $EmbedPlanes, $EmbedBandBits)")))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("sig"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .withColumn("cos_sim", VectorFunctions.cosineSim(s, "ea", "eb"))
      // threshold on the ROUND-9 cosine: the JVM and DuckDB fold dot
      // products in different orders, so a pair sitting exactly on
      // 0.35 could cross the threshold in one engine and not the
      // other; deciding on round(·, 9) (mirrored in embedLshSql)
      // makes the boundary decision engine-independent
      .filter(round(col("cos_sim"), 9) >= 0.35)
      .select(col("va"), col("vb"), col("cos_sim"))
  }

  /** Mirrors q_dedup_embed's sign-LSH bucketing with the same plane
    * constants (graft.functions.Planes) embedded as SQL literals.
    * Exposed for the hard-negative miner's composed oracle.
    */
  private[graft] def embedLshSql: String = {
    val sigs = graft.functions.Planes
      .sqlBandSigs("embedding", EmbedPlanes, EmbedBandBits)
    s"""WITH sig AS (SELECT vec_id, [${sigs.mkString(",\n  ")}] AS sigs
       |            FROM embeddings),
       |bands AS (SELECT vec_id, band, sigs[band] AS sig
       |          FROM sig, generate_series(1, ${EmbedPlanes / EmbedBandBits}) t(band)),
       |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)
       |SELECT va, vb, round(cos_sim, 6) AS cos_sim FROM (
       |  SELECT va, vb,
       |    list_sum(list_transform(generate_series(1, len(a.embedding)),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cos_sim
       |  FROM cand JOIN embeddings a ON va = a.vec_id JOIN embeddings b ON vb = b.vec_id) t
       |WHERE round(cos_sim, 9) >= 0.35 ORDER BY va, vb""".stripMargin
  }

  /** Span-manifest SQL (merged shared spans), shared by the discovery
    * and apply oracles.
    */
  private val spanSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |wins0 AS (
      |  SELECT doc_id, t,
      |         unnest(generate_series(1, len(t) - 7)) AS pos
      |  FROM toks WHERE len(t) >= 8),
      |wins AS (
      |  SELECT doc_id, pos,
      |         array_to_string(list_slice(t, pos, pos + 7), ' ') AS gram
      |  FROM wins0),
      |shared AS (
      |  SELECT gram FROM wins GROUP BY gram
      |  HAVING count(DISTINCT doc_id) >= 2),
      |flagged AS (
      |  SELECT doc_id, pos FROM wins JOIN shared USING (gram)),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
      |         THEN 1 ELSE 0 END AS b
      |  FROM flagged),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM brk)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
      |       max(pos) + 7 - min(pos) + 1 AS span_tokens
      |FROM isl GROUP BY doc_id, island""".stripMargin

  /** Shared by q_dedup_incremental and its bloom-prefiltered twin —
    * the sketch changes the physical join input, never the answer.
    */
  private val incrementalOracleSql =
    """WITH mx AS (SELECT max(doc_id) + 1 AS off FROM documents),
      |reg AS (
      |  SELECT md5(text) AS fp, min(doc_id) AS keeper
      |  FROM documents GROUP BY 1),
      |batch AS (
      |  SELECT doc_id + off AS new_id, 'reingest' AS batch_src, text
      |  FROM documents, mx WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT doc_id + off * 2, 'revision', text || ' rev2'
      |  FROM documents, mx WHERE doc_id % 7 = 4)
      |SELECT new_id, batch_src,
      |  CASE WHEN keeper IS NOT NULL THEN 'duplicate' ELSE 'new' END AS status,
      |  keeper
      |FROM (SELECT new_id, batch_src, md5(text) AS fp FROM batch) b
      |LEFT JOIN reg USING (fp)
      |ORDER BY new_id""".stripMargin

  /** Candidate CTE over banded signatures (the self-join shape of
    * `minhashCandidates`), parameterized on the bsig CTE name.
    */
  private def candSql(bsig: String): String =
    s"""SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM $bsig x JOIN $bsig y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id""".stripMargin

  /** One (bands, rows_per_band, counts) sweep row for the lsh_tune
    * oracle, given a candidate CTE name.
    */
  private def tuneRowSql(nb: Int, rpb: Int, cand: String): String =
    s"""SELECT CAST($nb AS BIGINT) AS bands,
       |  CAST($rpb AS BIGINT) AS rows_per_band,
       |  nt.n AS n_true, nc.n AS n_cand, nh.n AS n_hit,
       |  nh.n * 1000 // nt.n AS recall_pm, nh.n * 1000 // nc.n AS precision_pm
       |FROM (SELECT count(*) AS n FROM truth) nt,
       |     (SELECT count(*) AS n FROM $cand) nc,
       |     (SELECT count(*) AS n FROM truth t WHERE EXISTS (
       |        SELECT 1 FROM $cand c WHERE c.da = t.da AND c.db = t.db)) nh""".stripMargin

  val oracle: Map[String, String] = Map(
    // the full MinHash/LSH pipeline GENERATED in SQL (the hash-family
    // precedent taken to variable-length input): per-shingle
    // XXH64-of-string base hash + 16 hashLong lanes, per-doc SIGNED
    // lane minima, 4×4 banded multi-arg-xxhash64 signatures, the
    // band-collision candidate join, exact-Jaccard verify — so the
    // probabilistic candidate stage itself is hash-checked, not just
    // the verified output (graft.functions.XXH64Sql)
    "q_dedup_minhash" ->
      s"""WITH sets AS ($shingleSetsSql),
         |${graft.functions.XXH64Sql.bandSigCtes("m_", "sets", "doc_id",
              Bands, RowsPerBand)},
         |cand AS MATERIALIZED (${candSql("m_bsig")}),
         |jac AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |      AS j
         |  FROM cand JOIN sets sa ON da = sa.doc_id
         |  JOIN sets sb ON db = sb.doc_id)
         |SELECT da, db, round(j, 6) AS jaccard FROM jac
         |WHERE j >= 0.5 ORDER BY da, db""".stripMargin,

    // banding-generator recall/precision against the exact verified
    // truth — both sides now SQL-generated
    "q_dedup_eval" ->
      s"""WITH sets AS ($shingleSetsSql),
         |${graft.functions.XXH64Sql.bandSigCtes("m_", "sets", "doc_id",
              Bands, RowsPerBand)},
         |cand AS (${candSql("m_bsig")}),
         |truth AS MATERIALIZED (
         |  SELECT da, db FROM ($exactJaccardSql) j WHERE jaccard >= 0.5)
         |SELECT nt.n AS n_true, nc.n AS n_cand, nh.n AS n_hit,
         |  nh.n * 1000 // nt.n AS recall_pm, nh.n * 1000 // nc.n AS precision_pm
         |FROM (SELECT count(*) AS n FROM truth) nt,
         |     (SELECT count(*) AS n FROM cand) nc,
         |     (SELECT count(*) AS n FROM truth t WHERE EXISTS (
         |        SELECT 1 FROM cand c WHERE c.da = t.da AND c.db = t.db)) nh""".stripMargin,

    // the (bands × rows) sweep: ONE generated lane table, three
    // rebandings — mirrors bandsOfSigs' parameterization exactly
    "q_dedup_lsh_tune" ->
      s"""WITH sets AS ($shingleSetsSql),
         |${graft.functions.XXH64Sql.bandSigCtes("m_", "sets", "doc_id", 8, 2)},
         |${graft.functions.XXH64Sql.rebandCtes("c44_", "m_msig", "doc_id", 4)},
         |${graft.functions.XXH64Sql.rebandCtes("c28_", "m_msig", "doc_id", 8)},
         |truth AS MATERIALIZED (
         |  SELECT da, db FROM ($exactJaccardSql) j WHERE jaccard >= 0.5),
         |cand82 AS MATERIALIZED (${candSql("m_bsig")}),
         |cand44 AS MATERIALIZED (${candSql("c44_bsig")}),
         |cand28 AS MATERIALIZED (${candSql("c28_bsig")})
         |SELECT * FROM (
         |${tuneRowSql(8, 2, "cand82")}
         |UNION ALL
         |${tuneRowSql(4, 4, "cand44")}
         |UNION ALL
         |${tuneRowSql(2, 8, "cand28")}) z
         |ORDER BY rows_per_band""".stripMargin,

    // SimHash: per-distinct-token XXH64 base hash, 64 bit-votes
    // (bit b set iff strictly more tokens have it set than not, i.e.
    // 2·ones > n), signed 64-bit assembly via the -2^63 bit-63 term,
    // 4×16-bit chunk candidates, Hamming ≤ 8 verify
    "q_dedup_simhash" -> {
      val pow2 = (0 to 63).map(BigInt(1) << _).mkString("[", ",", "]::HUGEINT[]")
      val chunkMult = "[1,65536,4294967296,281474976710656]::HUGEINT[]"
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |bh AS MATERIALIZED (${graft.functions.XXH64Sql.baseSelect("doc_id", "tok", "tk")}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM bh GROUP BY doc_id),
         |bits AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (base // ($pow2)[b + 1]) % 2 = 1
         |        THEN 1 ELSE 0 END) AS ones
         |  FROM bh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
         |  GROUP BY doc_id, b),
         |sig AS (
         |  SELECT doc_id, CAST(
         |    (CASE WHEN max(CASE WHEN b = 63 AND 2 * ones > n
         |            THEN 1 ELSE 0 END) = 1
         |     THEN -9223372036854775808 ELSE 0 END)
         |    + sum(CASE WHEN b < 63 AND 2 * ones > n
         |          THEN ($pow2)[b + 1] ELSE 0::HUGEINT END) AS BIGINT) AS simhash
         |  FROM bits JOIN cnt USING (doc_id) GROUP BY doc_id),
         |ch AS MATERIALIZED (
         |  SELECT doc_id, simhash, c AS chunk,
         |    ((CASE WHEN simhash < 0
         |       THEN simhash::HUGEINT + 18446744073709551616
         |       ELSE simhash::HUGEINT END) // ($chunkMult)[c + 1]) % 65536 AS v
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc)
         |SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM ch x JOIN ch y
         |  ON x.chunk = y.chunk AND x.v = y.v AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
         |ORDER BY da, db""".stripMargin
    },

    "q_dedup_lines" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |lt AS (
         |  SELECT doc_id, i AS line_no,
         |    array_to_string(list_slice(tk, i * $LineTokens + 1,
         |      i * $LineTokens + $LineTokens), ' ') AS line_txt
         |  FROM (SELECT doc_id, tk,
         |      unnest(range(0, CAST(ceil(len(tk) / ${LineTokens}.0) AS BIGINT)))
         |        AS i FROM toks) u),
         |hashed AS (SELECT doc_id, line_no, md5(line_txt) AS h, line_txt
         |  FROM lt),
         |boiler AS (
         |  SELECT h FROM hashed GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= $LineDfBoiler),
         |drops AS (
         |  SELECT doc_id, count(*) AS n_dropped FROM hashed
         |  WHERE h IN (SELECT h FROM boiler) GROUP BY doc_id),
         |reb AS (
         |  SELECT doc_id, string_agg(line_txt, ' ' ORDER BY line_no) AS clean
         |  FROM hashed WHERE h NOT IN (SELECT h FROM boiler)
         |  GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(ceil(len(t.tk) / ${LineTokens}.0) AS BIGINT) AS n_lines,
         |  CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  md5(coalesce(r.clean, '')) AS clean_fp
         |FROM toks t
         |LEFT JOIN drops d USING (doc_id)
         |LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""SELECT da, db, inter, n_union, round(jaccard, 6) AS jaccard
         |FROM ($exactJaccardSql) j
         |WHERE jaccard >= 0.5 ORDER BY da, db""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH sets AS ($shingleSetsSql),
         |sh AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $ShingleDfCap),
         |capped AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id),
         |m AS (
         |  SELECT da, db,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         |    CAST(len(sa.sh) AS BIGINT) AS n_a,
         |    CAST(len(sb.sh) AS BIGINT) AS n_b
         |  FROM cand JOIN sets sa ON da = sa.doc_id
         |  JOIN sets sb ON db = sb.doc_id)
         |SELECT da, db, inter, n_a, n_b,
         |  inter * 1000 // n_a AS cont_a_pm,
         |  inter * 1000 // n_b AS cont_b_pm
         |FROM m
         |WHERE greatest(inter * 1000 // n_a, inter * 1000 // n_b) >= 800
         |ORDER BY da, db""".stripMargin,
    // The bloom twin emits the same exact rows by construction (the
    // sketch has no false negatives; positives are verified by the
    // exact registry join), so it shares the plain form's oracle.
    "q_dedup_incremental_bloom" -> incrementalOracleSql,
    "q_dedup_incremental" -> incrementalOracleSql,
    "q_dedup_spans" ->
      s"""SELECT * FROM ($spanSql) sp
         |ORDER BY doc_id, span_start""".stripMargin,
    "q_dedup_spans_apply" ->
      s"""WITH spans AS ($spanSql),
         |dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |dtok AS (
         |  SELECT doc_id, i AS pos, t[i] AS tok
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
         |        FROM dtoks) x),
         |kept AS (
         |  SELECT k.doc_id, k.pos, k.tok FROM dtok k
         |  LEFT JOIN spans s ON s.doc_id = k.doc_id
         |    AND k.pos BETWEEN s.span_start AND s.span_end
         |  WHERE s.doc_id IS NULL),
         |agg AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id),
         |sz AS (SELECT doc_id, len(t) AS n_tok FROM dtoks)
         |SELECT sz.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       sz.n_tok - coalesce(agg.n_kept, 0) AS n_removed
         |FROM sz LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_fuzzy_edit" ->
      """WITH p AS (
        |  SELECT doc_id, text, substr(text, 1, 32) AS blk FROM documents),
        |cold AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 64)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |JOIN cold ON cold.blk = a.blk
        |WHERE levenshtein(a.text, b.text) <= 16
        |ORDER BY da, db""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterLabelCtes
         |SELECT doc_id, cluster_keeper
         |FROM labels ORDER BY doc_id""".stripMargin,
    "q_dedup_cluster_dist" ->
      s"""WITH RECURSIVE $clusterLabelCtes,
         |sizes AS (SELECT cluster_keeper AS ck, count(*) AS csize
         |          FROM labels GROUP BY ck),
         |binned AS (
         |  SELECT CAST(length(bin(csize)) - 1 AS BIGINT) AS size_bin,
         |    CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(sum(csize) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY 1
         |  UNION ALL
         |  SELECT CAST(0 AS BIGINT),
         |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM labels),
         |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM labels))
         |SELECT size_bin, n_clusters, n_docs,
         |  CAST(n_docs * 1000 // (SELECT count(*) FROM documents) AS BIGINT)
         |    AS share_pm
         |FROM binned ORDER BY size_bin""".stripMargin,
    "q_dedup_apply" ->
      s"""WITH RECURSIVE $clusterLabelCtes,
         |ranked AS ($clusterRankedSql)
         |SELECT cluster, doc_id AS rep, n_members FROM ranked
         |WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "q_dedup_soft" ->
      s"""WITH RECURSIVE jp AS (
         |  SELECT da, db FROM ($exactJaccardSql) j WHERE jaccard >= 0.5),
         |edges AS (SELECT da AS a, db AS b FROM jp
         |          UNION ALL SELECT db, da FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS ck FROM reach GROUP BY a),
         |sizes AS (SELECT ck, count(*) AS csize FROM labels GROUP BY ck)
         |SELECT d.doc_id,
         |  coalesce(l.ck, d.doc_id) AS cluster,
         |  CAST(coalesce(s.csize, 1) AS BIGINT) AS n_members,
         |  CAST(1000000 // coalesce(s.csize, 1) AS BIGINT) AS weight_ppm
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |LEFT JOIN sizes s ON s.ck = l.ck
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_embed" -> embedLshSql
  )
}
