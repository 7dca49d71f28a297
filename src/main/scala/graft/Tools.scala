package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Developer tools behind one entrypoint: `sbt "runMain graft.Tools
  * <subcommand> [args]"`; with no or an unknown subcommand it prints
  * [[Usage]] and exits 2. Nothing in the engine depends on these tools.
  *
  * `main` runs a subcommand on one [[GraftSession.create]] session with
  * `SPARK_GRAFT_CPUS` cores (default 4); [[run]] takes any session and
  * returns the lines instead of printing them. Data dir:
  * `SPARK_GRAFT_SF_DIR` (default `~/testdata/sf0.1`) unless a dir argument is given.
  *
  * Retired main → subcommand (for the commands recorded in BASELINE.md
  * and the OPTIMIZATION files; those ran at 4, 8 or 32 cpus — set
  * `SPARK_GRAFT_CPUS=32` for the bench session shape):
  * {{{
  * PlanDump q... / tools.Explain q...  plan q...
  * PlanDumpF TAG q...                  plan --formatted TAG q...
  * PlanDumpIter                        plan --iterbody
  * ScaleProbe [dir...]                 scale [dir...]  (its default: sf0.01 sf0.1)
  * ScaleProbe2 BASE F [vecs]           scale --decade BASE F [vecs]
  * RecallProbe [dir]                   recall [dir]
  * WorkProbe q...                      work q...
  * BlockProbe [trials]                 blocks [trials]
  * RowGroupProbe, RepartProbe          rowgroups  (once per core count; Q1 as registered)
  * StreamProf                          stream-profile
  * EvalScaleProbe [BASE] [F]           eval-scale [BASE] [F]
  * PipelineRehearsal [BASE] [F]        rehearse [BASE] [F]
  * tools.Smoke q...                    smoke q...
  * }}}
  */
object Tools {

  val Usage: String =
    """usage: graft.Tools <subcommand> [args]
      |  plan q...                       physical plan of each query (stdout)
      |  plan --formatted TAG q...       formatted plans to plans/$SPARK_GRAFT_PLAN_ROUND/<q>_TAG.txt
      |  plan --iterbody                 the graph loops' iteration-body plans
      |  scale [dir...]                  candidate counts per dir, exponents of the last two
      |  scale --decade BASE F [vecs]    the same over BASE and its derived xF corpus
      |  recall [dir]                    KNN-graph and LSH recall vs brute-force top-5
      |  work q...                       jobs/stages/tasks/cpu/shuffle per trial
      |  blocks [trials]                 block store after each checkpoint-heavy query
      |  rowgroups                       Q1 on the one-row-group vs a 32-file lineitem
      |  stream-profile                  per-batch profile of a stream-stream join
      |  eval-scale [BASE] [F]           eval families at BASE and xF: wall + exchanges
      |  rehearse [BASE] [F]             the q_pipeline_export chain at BASE and xF
      |  smoke q...                      row counts and first rows of each query""".stripMargin

  val Commands: Seq[String] = Usage.linesIterator.drop(1).map(_.trim.takeWhile(_ != ' ')).toSeq.distinct

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !Commands.contains(args.head)) { System.err.println(Usage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-tools")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq).foreach(println) finally spark.stop()
  }

  /** Run one subcommand on `spark` (attaching graft functions) and return its output lines. */
  def run(spark: SparkSession, args: Seq[String],
      sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.props("user.home") + "/testdata/sf0.1"),
      planDir: Path = Paths.get("plans",
        sys.env.getOrElse("SPARK_GRAFT_PLAN_ROUND", "r18"))): Seq[String] = {
    GraftSession.attach(spark)
    def opt(rest: Seq[String], i: Int, default: String) = rest.lift(i).getOrElse(default)
    args match {
      case Seq("plan", "--iterbody") =>
        iterBodies(spark, sfDir)(writePlan(planDir, "iterbody"))
      case "plan" +: "--formatted" +: tag +: qs =>
        qs.map(q => writePlan(planDir, tag)(q, query(spark, q, sfDir)))
      case "plan" +: qs => qs.flatMap(q => Seq(s"===== $q =====",
        query(spark, q, sfDir).queryExecution.explainString(SimpleMode)))
      case "scale" +: "--decade" +: rest =>
        val (base, vecsOnly) = (opt(rest, 0, sfDir), rest.lift(2).contains("vecs"))
        val scaled = ensureScaled(spark, base, opt(rest, 1, "10").toInt, vecsOnly)
        scale(spark, Seq(base, scaled), sweep = false, vecsOnly)
      case "scale" +: dirs =>
        scale(spark, if (dirs.isEmpty) Seq(sfDir) else dirs, sweep = true, vecsOnly = false)
      case "recall" +: rest => recall(spark, opt(rest, 0, sfDir))
      case "work" +: qs => work(spark, sfDir, qs)
      case "blocks" +: rest => blocks(spark, sfDir, opt(rest, 0, "8").toInt)
      case Seq("rowgroups") => rowGroups(spark, sfDir)
      case Seq("stream-profile") => streamProfile(spark, sfDir)
      case "eval-scale" +: rest =>
        evalScale(spark, opt(rest, 0, sfDir), opt(rest, 1, "50").toInt)
      case "rehearse" +: rest =>
        rehearse(spark, opt(rest, 0, sfDir), opt(rest, 1, "50").toInt)
      case "smoke" +: qs => smoke(spark, sfDir, qs)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def query(s: SparkSession, q: String, d: String): DataFrame = SparkEntry.queries(q)(s, d)

  /** Fully materialize `df` without collecting it. */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def sec(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  private def bestOf2(f: => Unit): Double = math.min(sec(f), sec(f))

  /** (shuffle, broadcast, payload) exchange counts of the fully prepared
    * physical plan. Planning with AQE off (restored after) yields the
    * whole static plan, EnsureRequirements' shuffles included, with no
    * AdaptiveSparkPlanExec wrapper. Payload exchanges are those that
    * output a `text` or `planted` column. `build` must make a new
    * DataFrame: a DataFrame keeps the plan it was first given, so one
    * planned here would stay AQE-off (and checkpoint with that plan).
    */
  private def exchanges(s: SparkSession, build: => DataFrame): (Int, Int, Int) = {
    val key = "spark.sql.adaptive.enabled"
    val prior = s.conf.get(key)
    s.conf.set(key, "false")
    val plan = try build.queryExecution.executedPlan finally s.conf.set(key, prior)
    (plan.collect { case e: ShuffleExchangeLike => e }.length,
      plan.collect { case e: BroadcastExchangeLike => e }.length,
      plan.collect { case e: Exchange
        if e.output.exists(a => a.name == "text" || a.name == "planted") => e }.length)
  }

  private def quote(v: String): String = "\"" + v + "\""

  /** `{"k":v,...}` in field order; a dotted key `a.b` nests as `"a":{"b":v}`. */
  private def json(fields: Seq[(String, String)]): String =
    fields.map(_._1.takeWhile(_ != '.')).distinct.map { top =>
      val sub = fields.collect {
        case (k, v) if k.startsWith(top + ".") => s"${quote(k.drop(top.length + 1))}:$v"
      }
      if (sub.isEmpty) s"${quote(top)}:${fields.find(_._1 == top).get._2}"
      else sub.mkString(s"${quote(top)}:{", ",", "}")
    }.mkString("{", ",", "}")

  private def writePlan(dir: Path, tag: String)(name: String, df: DataFrame): String = {
    val txt = df.queryExecution.explainString(FormattedMode)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${name}_$tag.txt"), txt.getBytes(UTF_8))
    s"[plandump] wrote ${name}_$tag.txt (${txt.length} chars)"
  }

  /** One iteration's plan of each checkpointed graph loop. The full
    * query's plan stops at `Scan ExistingRDD` below a `localCheckpoint`,
    * so this rebuilds each loop's checkpointed inputs as the query does
    * and dumps the join + aggregate that every iteration repeats. The
    * edge side should enter the SortMergeJoin with no Exchange and no
    * Sort above its scan (the checkpoint keeps its partitioning and
    * ordering); only the thin score/label side sorts.
    */
  private def iterBodies(s: SparkSession, d: String)(
      dump: (String, DataFrame) => String): Seq[String] = {
    import graft.operators.Graph
    // pagerank (Graph.q_graph_pagerank): one damping round
    val e = Graph.edges(s, d).repartition(col("src"))
      .sortWithinPartitions(col("src")).localCheckpoint()
    val nodes = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val nRow = nodes.agg(count(lit(1)).as("n"))
    val ranks = nodes.crossJoin(broadcast(nRow))
      .select(col("node"), col("outdeg"), (lit(1.0) / col("n")).as("rank"),
        (lit(1.0 - Graph.Damping) / col("n")).as("base"))
      .localCheckpoint()
    val msgs = e.join(ranks.select(col("node").as("src"),
        (col("rank") / col("outdeg")).as("w")), "src")
      .groupBy(col("dst")).agg(sum(col("w")).as("m"))
    val pagerank = dump("q_graph_pagerank", ranks
      .select(col("node"), col("outdeg"), col("base"))
      .join(msgs, col("node") === col("dst"), "left")
      .select(col("node"), col("outdeg"), col("base"), (col("base") +
        lit(Graph.Damping) * coalesce(col("m"), lit(0.0))).as("rank")))
    Checkpoints.release(e, ranks)

    // hits: dual pre-partitioned edge copies, one half-step pair
    // (a = Eᵀh then h = Ea)
    def hitsEdges(key: String) = Graph.pairsLayout(s, d)
      .select(col("a").as("hub"), col("b").as("auth"))
      .repartition(col(key)).sortWithinPartitions(col(key)).localCheckpoint()
    val (eH, eA) = (hitsEdges("hub"), hitsEdges("auth"))
    val h0 = eH.select(col("hub")).distinct()
      .select(col("hub"), lit(1.0).as("hs")).localCheckpoint()
    val a1 = eH.join(h0, "hub").groupBy(col("auth"))
      .agg(sum(col("hs")).as("as_"))
    val hits = dump("q_graph_hits", eA.join(a1, "auth").groupBy(col("hub"))
      .agg(sum(col("as_")).as("hs")))
    Checkpoints.release(eH, eA, h0)

    // community: pre-partitioned adjacency, one synchronous LPA round
    val ce = Graph.coEdges(s, d)
    val adj = ce.select(col("a").as("u"), col("b").as("v"))
      .unionAll(ce.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v")).sortWithinPartitions(col("v")).localCheckpoint()
    val l0 = adj.select(col("u").as("v")).distinct()
      .select(col("v"), col("v").as("label")).localCheckpoint()
    val community = dump("q_graph_community", adj.join(l0, "v")
      .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("label"))).as("m"))
      .select(col("u").as("v"), col("m.label").as("label")))
    Checkpoints.release(adj, l0)
    Seq(pagerank, hits, community)
  }

  /** One scale reading. `basis` names the reading it grows against
    * (`docs`, `vectors`, ...); a reading with a basis gets a growth
    * exponent named `exp` (default `<key>_exp`). -1 marks a reading
    * skipped in this mode; it gets no exponent.
    */
  private[graft] final case class Reading(key: String, value: Double,
      basis: String = "", exp0: String = "") {
    def exp: String = if (exp0.nonEmpty) exp0 else key + "_exp"
    def show: String = if (key.endsWith("sec")) f"$value%.3f" else value.toLong.toString
  }

  /** Candidate counts, knobs and times of the dedup/ANN/graph laws on
    * each dir, then log(y2/y1)/log(n2/n1) of every reading between the
    * last two dirs: near 1 for a linear candidate generator, 2 for
    * all-pairs. `sweep` is the full reading set over real sf dirs; the
    * decade form reads the candidate laws over a base dir and its
    * derived corpus ([[ensureScaled]]), `vecsOnly` the vector laws only.
    */
  private def scale(s: SparkSession, dirs: Seq[String], sweep: Boolean,
      vecsOnly: Boolean): Seq[String] = {
    val rows = dirs.map(d => d -> readings(s, d, sweep, vecsOnly))
    val lines = rows.map { case (d, rs) =>
      json((if (sweep) "sf" else "dir", quote(d)) +: rs.map(r => r.key -> r.show))
    }
    if (rows.size < 2) lines
    else {
      val metric = if (sweep) "growth_exponents"
        else if (vecsOnly) "growth_exponents_vecs" else "growth_exponents_decade2"
      lines :+ json(("metric", quote(metric)) +:
        growth(rows(rows.size - 2)._2, rows.last._2))
    }
  }

  /** (exponent name, value) of every reading of `b` that has a basis,
    * against the reading of `a` with the same exponent name: NaN when
    * the first value is 0 or the basis did not grow, none when either
    * value is the -1 skip mark.
    */
  private[graft] def growth(a: Seq[Reading], b: Seq[Reading]): Seq[(String, String)] = {
    def at(rs: Seq[Reading], key: String) = rs.find(_.key == key).get.value
    for {
      r2 <- b if r2.basis.nonEmpty
      r1 <- a.find(_.exp == r2.exp) if r1.value >= 0 && r2.value >= 0
      (n1, n2) = (at(a, r1.basis), at(b, r2.basis))
      e = if (r1.value <= 0 || n1 == n2) Double.NaN
        else math.log(r2.value / r1.value) / math.log(n2 / n1)
    } yield r2.exp -> f"$e%.2f"
  }

  private def readings(s: SparkSession, d: String, sweep: Boolean,
      vecsOnly: Boolean): Seq[Reading] = {
    import graft.dedup.Dedup, graft.operators.Graph
    import graft.sim.{Ivf2, Similarity}, graft.text.Corpus
    val (docs, vecs) = (Tables.documents(s, d).count(), Tables.embeddings(s, d).count())
    def textOnly(v: => Long): Long = if (vecsOnly) -1 else v
    def n(key: String, v: Long, basis: String = "", exp: String = "") =
      Reading(key, v.toDouble, basis, exp)
    def basis(q: String) =
      if (q.startsWith("q_sim") || q == "q_dedup_semantic") "vectors" else "docs"
    val candidates: Map[String, () => Long] = Map(
      "q_dedup_ngram_jaccard" -> (() => Dedup.jaccardCandidates(s, d).count()),
      "q_dedup_minhash" -> (() => Dedup.minhashCandidates(s, d).count()),
      "q_dedup_fuzzy_edit" -> (() => Dedup.fuzzyCandidates(s, d).count()),
      "q_sim_knn_graph" -> (() => Similarity.knnCandidates(s, d).count()))
    val timed = (if (vecsOnly) Nil
      else Seq("q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_fuzzy_edit")) ++
      Seq("q_sim_knn_graph") ++ (if (sweep) Nil else Seq("q_dedup_semantic", "q_sim_ann_ivf"))
    // DF cap 6 binds at every probed dir, so the capped regime is
    // measured in-regime; the frozen 6-bit KNN code is all-pairs, so it
    // is skipped past 30k vectors
    val probeCap = 6
    val kNoFloor = math.max(2, ((vecs + 127) / 128).toInt)
    val ivf2Parts = Ivf2.ivf2Index(s, d).select("cell", "fine").distinct().count()
    val common = timed.flatMap { q =>
      candidates.get(q).map(c => n(s"$q.candidates", c(), basis(q), s"$q.candidate_exp")).toSeq
    } ++ Seq(
      n("knn_candidates_fixed6bits", if (vecs > 30000) -1 else
        Similarity.knnCandidates(s, d, tables = 8, bits = 6).count(), "vectors", "knn_fixed6_exp"),
      n("ann_bits", Similarity.adaptiveBits(s, d)),
      n(s"jaccard_capped${probeCap}_candidates", textOnly(
        Dedup.jaccardCandidates(s, d, cap = probeCap).count()), "docs", "jaccard_capped_exp"),
      n(s"shingles_over_cap$probeCap", textOnly(Dedup.shinglesOverCap(s, d, probeCap))),
      n("ivf_k", Similarity.adaptiveIvfK(s, d)),
      // the cell-count law with the 16-cell floor lifted (k = n/128)
      n(s"semdedup_candidates_k$kNoFloor",
        Similarity.semanticCandidates(s, d, kNoFloor).count(), "vectors", "semdedup_adaptive_exp"),
      n("decontam_fuzzy_candidates",
        textOnly(Corpus.decontamFuzzyCandidates(s, d).count()), "docs", "decontam_fuzzy_exp"),
      n("ivf2_candidates", Ivf2.ivf2Candidates(s, d).count(), "vectors"),
      n("ivf2_partitions", ivf2Parts),
      n("ivf2_mean_occupancy", vecs / math.max(1L, ivf2Parts)),
      // a fine-cell target of 8 lifts the two-level index off its floor
      n("diversity2_max_stratum_target8", Ivf2.fineMaxStratumFor(s, d, 8), "vectors"),
      // a 16-member cell target lifts the IVF floor for the dense leg
      n("hybrid_dense_candidates_target16", Similarity.hybridDenseCandidatesAt(
        s, d, math.max(8, ((vecs + 15) / 16).toInt)), "vectors"))
    val modal =
      if (!sweep) Seq(n(s"shingles_over_cap${Dedup.ShingleDfCap}",
        textOnly(Dedup.shinglesOverCap(s, d, Dedup.ShingleDfCap))))
      else {
        val (triEdges, triWedges) = Graph.wedgeStats(s, d)
        // link-prediction witness cap on a graph with one hub on ~10% of
        // edges; the uncapped count is the closed form Σ C(deg, 2)
        val skew = Graph.skewedAdj(s, docs * 4).localCheckpoint()
        val lp = (Graph.wedgeCandidates(skew, Graph.LinkpredWitnessCap).count(),
          Graph.wedgeCandidateCount(skew, 0))
        Checkpoints.release(skew)
        def maxAndCount(df: DataFrame, tokens: String) = {
          val r = df.groupBy("shard").agg(sum(tokens).as("t"))
            .agg(max("t").as("m"), count(lit(1)).as("c")).head()
          (r.getAs[Long]("m"), r.getAs[Long]("c"))
        }
        val (shardMax, shards) = maxAndCount(Corpus.shardLayout(s, d), "n_tok")
        val (wrapMax, wrapShards) = maxAndCount(Corpus.wrapShardLayout(s, d), "seg_tokens")
        val (prEdges, prNodes) = Graph.pagerankIterStats(s, d)
        val (lpaAdj, lpaNodes) = Graph.lpaIterStats(s, d)
        Seq(
          n("semdedup_candidates_floor16",
            Similarity.semanticCandidates(s, d).count(), "vectors", "semdedup_floor16_exp"),
          n("diversity2_max_stratum", Ivf2.ivf2Index(s, d).groupBy("cell", "fine")
            .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0), "vectors"),
          n("shard_count", shards, "docs"),
          n("shard_max_tokens", shardMax, "docs"),
          n("triangle_edges", triEdges),
          n("triangle_wedges", triWedges, "triangle_edges", "triangle_wedge_vs_edge_exp"),
          n("linkpred_skew_nodes", docs * 4),
          n("linkpred_skew_capped_candidates", lp._1, "linkpred_skew_nodes",
            "linkpred_skew_capped_exp"),
          n("linkpred_skew_uncapped_candidates", lp._2, "linkpred_skew_nodes",
            "linkpred_skew_uncapped_exp"),
          n("wrap_segments", Corpus.wrapPacked(s, d).count(), "docs"),
          n("wrap_shard_count", wrapShards, "docs"),
          n("wrap_shard_max_tokens", wrapMax, "docs"),
          n("hybrid_dense_candidates", Similarity.ivfProbes(s, d)
            .filter(col("qid") < Similarity.HybridQueries)
            .join(Similarity.ivfIndex(s, d), Seq("cell")).count(), "vectors"),
          n("chunk_rows", query(s, "q_chunk_overlap", d).count(), "docs"),
          n("pagerank_edges", prEdges, "docs"),
          n("pagerank_nodes", prNodes, "docs"),
          n("lpa_adj_rows", lpaAdj, "docs"),
          n("lpa_nodes", lpaNodes, "docs"))
      }
    val times = timed.map(q =>
      Reading(s"$q.sec", bestOf2(noop(query(s, q, d))), basis(q), s"$q.time_exp")) ++
      (if (sweep) Seq(Reading("pca_fit_sec",
        bestOf2 { sim.Pca.momentPass(s, d); () }, "vectors", "pca_fit_time_exp"))
      else Nil)
    Seq(n("docs", docs), n("vectors", vecs)) ++ common ++ modal ++ times
  }

  private val IdStride = 10L * 1000 * 1000

  /** Distinct word-drop pattern (m, off) for copy `k >= 1`: for k <= 9,
    * m = 3 + ((k−1) mod 8), off = k mod m (pairwise distinct); k >= 10
    * walks the remaining (m, off) pairs in a fixed order, because the
    * k <= 9 rule would repeat a pattern (an exact duplicate copy). 52
    * patterns, so text factors up to 53.
    */
  private def dropPattern(k: Int): (Int, Int) =
    if (k <= 9) { val m = 3 + ((k - 1) % 8); (m, k % m) }
    else {
      val used = (1 to 9).map(dropPattern).toSet
      val free = for (m <- 3 to 10; off <- 0 until m
        if !used((m, off))) yield (m, off)
      require(k - 10 < free.size,
        s"copy $k exceeds the ${free.size + 9} distinct drop patterns")
      free(k - 10)
    }

  /** Build (once) the ×`factor` derived corpus of `baseDir` as a
    * warehouse artifact (`SessionResources.artifact`) and return its
    * dir. No randomness, so a rebuild is byte-identical.
    *
    *  - `documents`: copy k re-keys `doc_id` by k·10^7 and, for k ≥ 1,
    *    drops every m-th word at offset `off` ([[dropPattern]]). Copies
    *    share the vocabulary, so shingle document frequency grows with
    *    the corpus, while distinct drop patterns keep each original's
    *    near-dup group bounded (≤ C(factor, 2) pairs).
    *  - `embeddings`: copy k re-keys `vec_id` and rotates the dimensions
    *    by k. Within-copy geometry is preserved exactly; cross-copy
    *    cosines decorrelate.
    *  - every other table is a symlink to the base table.
    *
    * `vecsOnly` scales only the embeddings (up to 64 rotations).
    */
  private[graft] def ensureScaled(s: SparkSession, baseDir: String,
      factor: Int, vecsOnly: Boolean = false): String = {
    require(!vecsOnly || factor <= 64,
      s"vecsOnly factor $factor exceeds the 64 distinct dimension rotations")
    val tag = if (vecsOnly) "xv" else "x"
    SessionResources.artifact(s, baseDir, s"scale$factor$tag") { dir =>
      Files.createDirectories(dir)
      def write(table: String, base: DataFrame)(copy: (DataFrame, Int) => DataFrame): Unit =
        (base +: (1 until factor).map(copy(base, _))).reduce(_ unionAll _)
          .repartition(32).write.parquet(s"$dir/$table.parquet")
      if (!vecsOnly) write("documents", Tables.documents(s, baseDir)
          .select("doc_id", "text", "lang", "source", "n_chars")) { (docs, k) =>
        val (m, off) = dropPattern(k)
        docs.select((col("doc_id") + lit(k * IdStride)).as("doc_id"),
          array_join(filter(split(col("text"), " "),
            (_, i) => (i + lit(off)) % m =!= 0), " ").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      write("embeddings", Tables.embeddings(s, baseDir)
          .select("vec_id", "embedding", "label")) { (vecs, k) =>
        vecs.select((col("vec_id") + lit(k * IdStride)).as("vec_id"),
          expr(s"concat(slice(embedding, ${k + 1}, size(embedding) - $k)," +
            s" slice(embedding, 1, $k))").as("embedding"),
          col("label"))
      }
      Tables.names
        .filterNot(n => n == "embeddings" || (n == "documents" && !vecsOnly))
        .foreach(n => Files.createSymbolicLink(
          dir.resolve(s"$n.parquet"), Paths.get(s"$baseDir/$n.parquet")))
    }.toString
  }

  /** KNN-graph and sign-LSH recall against the brute-force top-5: the
    * other axis of the adaptive-width trade that `scale` measures.
    */
  private def recall(s: SparkSession, d: String): Seq[String] = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("cos_sim").desc, col("nid"))
    val brute = e.select(col("vec_id").as("vid"), col("embedding").as("va"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("vb")),
        col("vid") =!= col("nid"))
      .select(col("vid"), col("nid"), expr("cosine_sim(va, vb)").as("cos_sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("vid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(q: String) =
      query(s, q, d).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val batch = brute.filter(_._1 < sim.Similarity.QueryBatch)
    Seq(s"knn_recall=${(brute intersect pairs("q_sim_knn_graph")).size.toDouble / brute.size}",
      s"ann_lsh_recall=${(batch intersect pairs("q_sim_ann_lsh")).size.toDouble / batch.size}")
  }

  /** Per-trial means of jobs, stages, tasks, executor CPU, shuffle bytes
    * and shuffle rows over `SPARK_GRAFT_WORK_TRIALS` passes after one
    * warm pass. CPU and shuffle volume depend on the executed plan, not
    * on machine load, so they settle A/B questions wall clock cannot.
    */
  private def work(s: SparkSession, d: String, names: Seq[String]): Seq[String] = {
    val trials = sys.env.getOrElse("SPARK_GRAFT_WORK_TRIALS", "3").toInt
    val Seq(jobs, stages, tasks, cpuNs, shufBytes, shufRows) = Seq.fill(6)(new LongAdder)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(1)
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = stages.add(1)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.add(1)
        Option(t.taskMetrics).foreach { m =>
          cpuNs.add(m.executorCpuTime)
          shufBytes.add(m.shuffleWriteMetrics.bytesWritten)
          shufRows.add(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    s.sparkContext.addSparkListener(listener)
    try names.map { n =>
      noop(query(s, n, d)) // warm
      Seq(jobs, stages, tasks, cpuNs, shufBytes, shufRows).foreach(_.reset())
      val wall = sec((1 to trials).foreach(_ => noop(query(s, n, d)))) / trials
      Thread.sleep(400) // let the listener bus drain
      f"[workprobe] $n%-22s wall=$wall%6.3f s/trial " +
        f"jobs=${jobs.sum / trials}%3d stages=${stages.sum / trials}%4d " +
        f"tasks=${tasks.sum / trials}%5d cpu=${cpuNs.sum / 1e9 / trials}%7.2f s " +
        f"shufMB=${shufBytes.sum / 1048576.0 / trials}%8.2f " +
        f"shufRows=${shufRows.sum / trials}%9d"
    } finally s.sparkContext.removeSparkListener(listener)
  }

  /** Replays checkpoint-heavy queries in one session and reports the
    * block store (live RDDs, cached blocks, memory and disk MB) after
    * each. With `Checkpoints.release` in the loops the figures stay at
    * the per-query live set instead of growing with queries run.
    */
  private def blocks(s: SparkSession, d: String, trials: Int): Seq[String] =
    for {
      t <- 1 to trials
      n <- Seq("q_graph_pagerank", "q_graph_hits", "q_graph_community",
        "q_mm_pack", "q_market_basket", "q_ngram_novelty")
    } yield {
      noop(query(s, n, d))
      val infos = s.sparkContext.getRDDStorageInfo
      f"[blockprobe] trial=$t%2d after=$n%-18s " +
        f"rdds=${infos.length}%4d blocks=${infos.map(_.numCachedPartitions).sum}%5d " +
        f"memMB=${infos.map(_.memSize).sum / (1 << 20)}%6d " +
        f"diskMB=${infos.map(_.diskSize).sum / (1 << 20)}%5d"
    }

  /** TPC-H Q1 (`q1_pricing_summary`) over lineitem as stored (one row
    * group per table at sf0.1, so one scan task at any core count) and
    * over a 32-file copy written once to the warehouse (32 scan splits). Run
    * at two `SPARK_GRAFT_CPUS` values: the split-able layout's time
    * should follow the core count, the one-row-group layout's should not.
    */
  private def rowGroups(s: SparkSession, d: String): Seq[String] = {
    val multi = SessionResources.artifact(s, d, "rowgroups32") { dir =>
      Tables.lineitem(s, d).repartition(32).write.parquet(s"$dir/lineitem.parquet")
    }.toString
    val cores = s.sparkContext.defaultParallelism
    Seq("q1 single-row-group" -> d, "q1 32-file layout  " -> multi).map { case (label, dir) =>
      val ts = (1 to 4).map(_ => sec(noop(query(s, "q1_pricing_summary", dir))))
      f"[rgprobe] cores=$cores%2d $label min=${ts.min}%.3f " +
        f"all=${ts.map(t => f"$t%.2f").mkString(",")}"
    }
  }

  /** Drains the click→purchase stream-stream left join twice over the
    * 3-batch events replay and reports per-batch duration and
    * state-store timings. `PROF_PROVIDER` (with `PROF_CHANGELOG`) swaps
    * the state-store provider, `PROF_PARTS` sets the state partitions
    * (default 4); the session's settings are restored after.
    */
  private def streamProfile(s: SparkSession, d: String): Seq[String] = {
    val ev = streaming.Streams.eventsStreamMulti(s, d)
    def side(kind: String, p: String) = ev.filter(col("event_type") === kind)
      .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"),
        col("event_id").as(s"${p}_id"))
      .withWatermark(s"${p}_ts", "30 minutes")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") && col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"), "left_outer")
      .select(col("c_id"), col("p_id"), col("c_user").as("user_id"))
    val confs = ("spark.sql.shuffle.partitions" -> sys.env.getOrElse("PROF_PARTS", "4")) +:
      sys.env.get("PROF_PROVIDER").toSeq.flatMap(pc => Seq(
        "spark.sql.streaming.stateStore.providerClass" -> pc,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          sys.env.getOrElse("PROF_CHANGELOG", "false")))
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try (1 to 2).flatMap { i =>
      val t0 = System.nanoTime()
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(s"prof_$i")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      f"== run $i wall ${(System.nanoTime() - t0) / 1e9}%.2fs nbatches=${q.recentProgress.length}" +:
        q.recentProgress.toSeq.flatMap { p =>
          s"batch ${p.batchId}: rows=${p.numInputRows} dur=${p.durationMs}" +:
            p.stateOperators.toSeq.map(so => s"   state: updates=${so.allUpdatesTimeMs}ms " +
              s"removes=${so.allRemovalsTimeMs}ms commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}")
        }
    } finally prior.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  private val EvalFamilies = Seq("q_mink_prob", "q_dataset_infer", "q_canary_plant",
    "q_canary_exposure", "q_ifeval_check", "q_ifeval_report", "q_rft_select", "q_rft_dataset",
    "q_batch_bucketize", "q_batch_plan", "q_arena_battles", "q_arena_leaderboard",
    "q_watermark_detect", "q_watermark_audit", "q_mcq_build", "q_length_bias", "q_epoch_plan")

  /** One measured pass (best of two; the first pays codegen) of each
    * eval/privacy/batching family at `base` and at its ×`factor` derived
    * corpus, with the static exchange counts and the payload audit (no
    * exchange may output `text`/`planted`), then each family's wall
    * growth exponent. A corpus-shaped plan reads ≈ 1 with an
    * sf-independent exchange count.
    */
  private def evalScale(s: SparkSession, base: String, factor: Int): Seq[String] = {
    val perDir = Seq(base, ensureScaled(s, base, factor)).map { d =>
      val nDocs = Tables.documents(s, d).count()
      EvalFamilies.map { q =>
        val (sh, bc, payload) = exchanges(s, query(s, q, d))
        val wall = bestOf2(noop(query(s, q, d)))
        wall -> (f"""{"probe":"eval_scale","dir":"$d","n_docs":$nDocs,"query":"$q",""" +
          f""""sec":$wall%.3f,"shuffle_ex":$sh,"broadcast_ex":$bc,"payload_ex":$payload}""")
      }
    }
    perDir.flatten.map(_._2) ++ EvalFamilies.indices.map { i =>
      val e = math.log(perDir(1)(i)._1 / perDir(0)(i)._1) / math.log(factor.toDouble)
      f"""{"probe":"eval_scale_exp","query":"${EvalFamilies(i)}","factor":$factor,"exp":$e%.2f}"""
    }
  }

  /** The q_pipeline_export chain (dedup cluster representatives →
    * Gopher filter → sequence packing → shard export) at `base` and at
    * its ×`factor` derived corpus. Each stage is timed and its exchanges
    * counted ISOLATED (input checkpointed) and as one COMPOSED dataflow;
    * composed ≠ Σ isolated beyond keep-set reuse would mean a stage's
    * plan changes shape under composition. The composed plan must have
    * no exchange carrying `text`. One JSON line per dir.
    */
  private def rehearse(s: SparkSession, base: String, factor: Int): Seq[String] =
    Seq(base, ensureScaled(s, base, factor)).map { d =>
      import graft.text.Corpus
      def measured(df: => DataFrame) = (exchanges(s, df), sec(noop(df)))
      val nDocs = Tables.documents(s, d).count()
      // write-once layouts: record which ones this run did not have to build
      val preexisting = Seq("dedup_cluster_labels", "pipeline_shards").filter(name =>
        SessionResources.built(SessionResources.artifactDir(s, d, name)))
      // the label layout: the first read pays the build if it was absent
      val labelsFirstSec = sec(dedup.Dedup.clusterLabels(s, d).count())
      val labelsSec = sec(dedup.Dedup.clusterLabels(s, d).count())
      val sv = measured(Corpus.pipelineSurvivors(s, d))
      val survivors = Corpus.pipelineSurvivors(s, d)
      val nSurvivors = survivors.count()
      // pack over the checkpointed keep set, export over the checkpointed pack
      val svCp = survivors.localCheckpoint(true)
      def packIso = Corpus.seqPackedOf(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(svCp, Seq("doc_id"), "leftsemi"))
      val pack = measured(packIso)
      val packCp = packIso.localCheckpoint(true)
      val stages = Seq("survivors" -> sv, "pack_iso" -> pack,
        "export_iso" -> measured(Corpus.withDerivedShard(packCp, "n_tok", packCp)),
        "composed" -> measured {
          val packedLive = Corpus.pipelinePacked(s, d)
          Corpus.withDerivedShard(packedLive, "n_tok", packedLive)
        })
      Checkpoints.release(svCp, packCp)
      // the registered query end to end, layout write included
      val t0 = System.nanoTime()
      val manifest = query(s, "q_pipeline_export", d).collect()
      val exportSec = (System.nanoTime() - t0) / 1e9
      require(manifest.map(_.getLong(2)).sum == nSurvivors, s"manifest docs != survivors $nSurvivors")
      def byStage(f: ((Int, Int, Int)) => Int) =
        json(stages.map { case (k, (ex, _)) => k -> f(ex).toString })
      json(Seq("dir" -> quote(d), "factor" -> (if (d == base) 1 else factor).toString,
        "n_docs" -> nDocs.toString, "n_survivors" -> nSurvivors.toString,
        "n_shards" -> manifest.length.toString,
        "n_tokens" -> manifest.map(_.getLong(3)).sum.toString,
        "layouts_preexisting" -> preexisting.map(quote).mkString("[", ",", "]"),
        "labels_first_sec" -> f"$labelsFirstSec%.3f", "labels_reread_sec" -> f"$labelsSec%.3f") ++
        stages.map { case (k, (_, t)) => s"${k}_sec" -> f"$t%.3f" } ++
        Seq("export_write_sec" -> f"$exportSec%.3f", "shuffles" -> byStage(_._1),
          "broadcasts" -> byStage(_._2), "payload_exchanges" -> stages.last._2._1._3.toString))
    }

  /** Collect each query once: row count, time, and the first 8 rows;
    * with `SPARK_GRAFT_SMOKE_OUT` set, also write each result there.
    */
  private def smoke(s: SparkSession, d: String, names: Seq[String]): Seq[String] =
    names.flatMap { n =>
      val t0 = System.nanoTime()
      val df = query(s, n, d)
      val rows = df.collect()
      val line = f"=== $n rows=${rows.length} in ${(System.nanoTime() - t0) / 1e9}%.1f s"
      sys.env.get("SPARK_GRAFT_SMOKE_OUT").foreach(o =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$o/$n.parquet"))
      line +: rows.take(8).toSeq.map(r => "    " + r)
    }
}
