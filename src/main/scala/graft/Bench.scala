package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query and
  * total wall seconds, plus a fixed-work calibration canary
  * (`canary_sec`/`canary_start_sec`/`canary_end_sec`): a deterministic
  * in-memory workload whose cost depends only on machine throughput,
  * letting any consumer deflate a session that ran under ambient
  * pressure by the ratio of its canary to the committed reference
  * canary in BASELINE.md.
  *
  * MID-SESSION pressure is additionally sampled: on full shared-mode
  * runs one canary trial fires every [[ProbeEvery]] queries, and the
  * per-probe values ship as `canary_probe_after`/`canary_probe_sec`
  * (positions include the start/end pair at 0 and N). Queries whose
  * BRACKETING probes both read > [[PressureRatio]]× the session's
  * best probe are listed in `suspect_pressure` — start/end canaries
  * alone cannot flag pressure that arrives and leaves mid-session
  * (the r16 driver artifact carried an 11.1 s q_graph_pagerank whose
  * isolated cost was 3.6 s, with both trials inside a pressure window
  * invisible to the start/end pair; these fields make that case
  * self-adjudicating).
  *
  * Each query is fully materialized through the `noop` sink (not
  * `.count()`, which would let Catalyst prune away projections and
  * under-report the real work).
  *
  * Env knobs:
  *  - SPARK_GRAFT_BENCH_RUNS   base trials per query (default 2)
  *  - SPARK_GRAFT_BENCH_MODE   "shared" (default; one session for the
  *    whole suite — the driver contract) or "fresh" (a NEW session per
  *    query family, with per-family warmup). Fresh mode exists to
  *    answer the drift-vs-pressure question: if a query is slower in a
  *    long shared session than in a fresh one on the same machine
  *    back-to-back, accumulated session state (memory-sink tables,
  *    state-store providers, codegen caches) is inflating it; if the
  *    two agree, inter-run differences are machine drift.
  *  - SPARK_GRAFT_BENCH_FILTER comma-separated name prefixes; only
  *    matching queries run (local iteration on one family).
  *  - SPARK_GRAFT_BENCH_SET    path to a file of exact query names
  *    (one per line); only those run. Used for the era-subset drift
  *    studies (e.g. re-running a previous round's exact query set on
  *    current code to separate new-head cost from ambient drift).
  *  - SPARK_GRAFT_BENCH_OUT    path to ALSO write the full per-query
  *    JSON line to (atomically, via a temp file + rename). The
  *    driver's captured tail keeps only the compact trailer lines
  *    (total_only + top10_slowest), so sub-top-10 regressions were
  *    invisible round-over-round; a committed copy of this file at
  *    round close (`bench_close.json`) makes every query's min/spread
  *    diffable against the previous round's.
  *  - SPARK_GRAFT_BENCH_COLD   "1" reports each query's FIRST trial
  *    as its value instead of the min over trials. The min is the
  *    steady-state plan cost; the first trial additionally pays
  *    codegen compile, broadcast build, and any shuffle-reuse miss —
  *    the cost a query pays ONCE per session at any scale. A
  *    structural regression that hides behind warm-run reuse (the
  *    round-12 q_embed_mrl_eval case: 6.9 s cold vs 1.0 s warm)
  *    moves this number even when the min looks healthy.
  *
  * Base tables and layouts are resolved once per session (`Tables.read`),
  * so in shared mode the first trial that touches a table the warmups
  * did not also carries that table's one-time resolution (file listing
  * and schema inference); later trials reuse it.
  */
object Bench {

  /** Mid-session probe cadence: one canary trial per this many timed
    * queries on a full shared-mode run (~7 probes × <1 s over a 280-
    * query session — the same cost class as the start/end pair).
    */
  val ProbeEvery = 40

  /** A query is pressure-suspect when the probes bracketing it BOTH
    * exceed this ratio of the session's best probe. 1.5 sits above
    * the ambient start/end spread on record (up to ~1.47 across the
    * five committed r16 sessions) and well below the ≥2× a session
    * loaded enough to distort timings reads.
    */
  val PressureRatio = 1.5

  /** Session-lifecycle family in fresh mode (also the warmup grouping):
    * streaming (state stores, RocksDB), dedup (shingle layouts), sim
    * (IVF/LSH), everything else.
    */
  private def family(name: String): String =
    if (name.startsWith("q_stream")) "stream"
    else if (name.startsWith("q_dedup")) "dedup"
    else if (name.startsWith("q_sim") || name.startsWith("q_embed")) "sim"
    else "core"

  private def buildSession(cpus: String): SparkSession = {
    val s = GraftSession.create(s"local[$cpus]", cpus.toInt)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "shared")
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq).getOrElse(Seq(""))
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val cold = sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1")

    val nameSet: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_SET").map { p =>
        val src = scala.io.Source.fromFile(p)
        try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
        finally src.close()
      }

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        filter.exists(n.startsWith) && nameSet.forall(_.contains(n)) }

    // Warmup set: one representative per query family, materializing
    // JIT/whole-stage-codegen compilation, file-listing caches, scan
    // setup for every table, and the write-once storage layouts
    // (bucketed tables, partitioned dirs) — so per-query timings
    // measure the query, not first-use compilation (q_join_sortmerge
    // benched 10× its steady state in round 1 purely from cold
    // codegen on the join+partial-agg shape). q_dedup_ngram_jaccard
    // warms the persisted shingle index + near-dup pair set — the
    // write-once materialized artifacts (Dedup.scala) that the whole
    // dedup family shares, same class as the bucketed layouts.
    val warmups = Seq("q_point_get", "q_bucketed_join", "q_partition_pruning",
      "q_join_sortmerge", "q_json_funcs", "q_window_rank",
      "q_stream_tumbling", "q_stream_watermark", "q_text_tokens",
      "q_sim_topk", "q_dedup_exact", "q_dedup_ngram_jaccard",
      "q_media_meta", "q_set_union")

    def runOnce(s: SparkSession, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        label: String): Boolean =
      try { fn(s, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}"); false
      }

    // Best-of-N timing with a variance guard: a single cold run can't
    // separate a real regression from one GC/JIT/AQE spike — three
    // rounds of verdicts chased phantom 2-5× swings on unchanged code,
    // and best-of-2 still let q_sim_knn_graph flap 3.6→8.8 s between
    // runs. When the base trials disagree by >2× a third breaks the
    // tie; the min over trials is the steady-state cost of the plan,
    // and the per-query max/min spread ships in the JSON so the
    // driver's record distinguishes noise from regression
    // mechanically (a regression moves the MIN; noise widens the
    // spread).
    def timeQuery(s: SparkSession, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Boolean) = {
      def trial(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = runOnce(s, fn, name)
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      var trials = (1 to runs).map(_ => trial()).toVector
      val secs0 = trials.map(_._1)
      if (runs > 1 && secs0.max / secs0.min > 2.0) trials :+= trial()
      val secs = trials.map(_._1)
      // cold mode: the first trial is the value (spread still min-based
      // so cold/min reads directly as the session's one-time cost ratio)
      (if (cold) secs.head else secs.min, secs.max / secs.min,
        trials.forall(_._2))
    }

    // Fixed-work calibration canary: a deterministic in-memory workload
    // (seeded range → xxhash64 → sum; no I/O, no shuffle beyond the
    // final 1-row aggregate) timed at session start AND end. Its cost
    // is a pure function of machine throughput, never of this repo's
    // code, so any consumer of the JSON can deflate a pressured
    // session mechanically: reading N× the committed reference canary
    // means the whole session ran on an N×-loaded machine (the
    // round-14 driver artifact read 233 s where three same-HEAD
    // sessions read 157–180 s — adjudicating that took a judge re-run;
    // this field makes it arithmetic). One untimed trial warms codegen
    // so the reported value is machine throughput, not JIT.
    def canaryOnce(s: SparkSession): Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      val t0 = System.nanoTime()
      // bit_xor (not sum): full-range xxhash64 longs overflow an ANSI sum
      s.range(0L, 4000000000L, 1L, cpus.toInt)
        .select(bit_xor(xxhash64(col("id"))).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def canaryBest(s: SparkSession): Double = {
      canaryOnce(s) // codegen/JIT warm, untimed
      math.min(canaryOnce(s), canaryOnce(s))
    }

    // canary only on FULL suite runs: a filtered/set-listed iteration
    // run is a developer loop where ~6 extra 4B-row jobs (expensive at
    // the default 4 cpus) buy nothing — the reference value is only
    // meaningful for the committed full-run config anyway
    val canaryOn = filter == Seq("") && nameSet.isEmpty
    var canaryStart = -1.0
    var canaryEnd = -1.0
    // (queries-completed, sec) for each mid-session probe; shared
    // mode only — fresh mode's per-family sessions are already
    // bracketed by their own isolated start/end canaries
    val midProbes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()

    val results: Seq[(String, Double, Double, Boolean)] = mode match {
      case "fresh" =>
        // family-ordered; each family gets a brand-new session, one
        // untimed pass per query (its own codegen/layout warmup), then
        // timed trials — so no state from another family's queries can
        // leak into these numbers. Canary brackets the whole run in its
        // own sessions so each family's numbers stay isolated.
        if (canaryOn) {
          val cs = buildSession(cpus)
          try canaryStart = canaryBest(cs) finally cs.stop()
        }
        val out = all.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
          .flatMap { case (_, qs) =>
            val s = buildSession(cpus)
            try {
              qs.foreach { case (n, fn) => runOnce(s, fn, s"warmup $n") }
              qs.map { case (n, fn) =>
                val (sec, spread, ok) = timeQuery(s, n, fn)
                (n, sec, spread, ok)
              }
            } finally s.stop()
          }.sortBy(_._1)
        if (canaryOn) {
          val ce = buildSession(cpus)
          try canaryEnd = canaryBest(ce) finally ce.stop()
        }
        out
      case _ =>
        val s = buildSession(cpus)
        if (canaryOn) canaryStart = canaryBest(s)
        warmups.flatMap(w => all.toMap.get(w))
          .foreach(fn => runOnce(s, fn, "warmup"))
        val out = all.zipWithIndex.map { case ((n, fn), i) =>
          if (canaryOn && i > 0 && i % ProbeEvery == 0)
            midProbes += ((i, canaryOnce(s)))
          val (sec, spread, ok) = timeQuery(s, n, fn)
          (n, sec, spread, ok)
        }
        if (canaryOn) canaryEnd = canaryBest(s)
        s.stop()
        out
    }

    val modeLabel = if (cold) mode + "+cold" else mode
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _) => "\"" + k + f"""\":$sp%.2f""" }
      .mkString("{", ",", "}")
    // A query that throws must not read as a speedup: failures are
    // listed explicitly and the total is poisoned to a sentinel.
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
    val total = if (failed.isEmpty) results.map(_._2).sum else -1.0
    val failedJson = failed.mkString("[", ",", "]")
    // canary_sec = min(start, end): the least-pressured reading is the
    // conservative deflator (a pressured session can only read HIGHER
    // than machine baseline, never lower). Start/end ship individually
    // so pressure that arrives mid-session is visible as start≠end.
    val canarySec = math.min(canaryStart, canaryEnd)
    val canaryJson = f""""canary_sec":$canarySec%.3f,"canary_start_sec":$canaryStart%.3f,"canary_end_sec":$canaryEnd%.3f"""
    // The full probe ladder with positions (0 = start pair, N = end
    // pair), plus the mechanical suspect derivation: a query is
    // flagged when the probes on BOTH sides of it ran pressured, i.e.
    // its whole timing window sat inside a load spike the start/end
    // pair can't see. Sub-0.5 s queries are left unflagged — at that
    // magnitude the artifact can't mislead a round-over-round reader.
    val probeLadder: Seq[(Int, Double)] =
      if (canaryOn && mode != "fresh")
        (0, canaryStart) +: midProbes.toSeq :+ (all.size, canaryEnd)
      else Seq.empty
    val suspects: Seq[String] =
      if (probeLadder.size >= 3) {
        val minProbe = probeLadder.map(_._2).min
        results.zipWithIndex.collect {
          case ((n, sec, _, _), i) if sec >= 0.5 &&
              probeLadder.filter(_._1 <= i).last._2 > PressureRatio * minProbe &&
              probeLadder.find(_._1 > i).exists(_._2 > PressureRatio * minProbe) =>
            "\"" + n + "\""
        }
      } else Seq.empty
    val probesJson =
      if (probeLadder.nonEmpty)
        s""","canary_probe_after":${probeLadder.map(_._1).mkString("[", ",", "]")}""" +
          s""","canary_probe_sec":${probeLadder.map(p => f"${p._2}%.3f").mkString("[", ",", "]")}""" +
          s""","suspect_pressure":${suspects.mkString("[", ",", "]")}"""
      else ""
    // Field order matters for the driver artifact: its captured tail
    // keeps the END of this (long) line, so whatever map rides last is
    // what survives truncation. Through r15 that was the max/min
    // "spread" ratio map, which the r15 judge then read as seconds
    // (q_string_funcs spread 6.30 reported as a 6.30 s phantom — its
    // min was 0.25 s). The min-of-runs "queries" map — the quantity
    // the total sums and the one a consumer wants — now rides LAST,
    // after even "failed"/"sf": in exactly the runs where diagnosis
    // matters, a long failure list must not clip the map again.
    // ("queries" values are min-over-trials SECONDS — the unit rides
    // in the top-level "unit" field; the r16 "queries_min_sec_unit"
    // sidecar string was dropped as misparse-prone, schema change
    // documented in BASELINE.md)
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","mode":"$modeLabel",$canaryJson$probesJson,"failed":$failedJson,"sf":"$sfDir","spread_max_over_min":$spreads,"queries":$qs}"""
    println(fullLine)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      val target = java.nio.file.Paths.get(p)
      val tmp = java.nio.file.Paths.get(p + ".tmp")
      java.nio.file.Files.write(tmp,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // Short trailer with the headline total: the per-query line above
    // outgrew the driver's captured tail in rounds 2-4, losing the
    // total; this line is always last and always fits — so it carries
    // only a BOUNDED probe summary (count + worst ratio), never the
    // ladder arrays or the unbounded suspect name list (those ride in
    // the full line; a heavily pressured run must not clip this one).
    val probeSummary =
      if (probeLadder.nonEmpty) {
        val worst = probeLadder.map(_._2).max / probeLadder.map(_._2).min
        f""","suspect_n":${suspects.size},"probe_max_over_min":$worst%.2f"""
      } else ""
    println(f"""{"metric":"total_only","value":$total%.3f,"unit":"sec","mode":"$modeLabel",$canaryJson$probeSummary,"n_queries":${results.size},"runs":$runs,"failed":$failedJson,"sf":"$sfDir"}""")
    // Compact per-query signal for the expensive head: the full
    // queries/spread dicts outgrew the driver's 2 KB captured tail in
    // round 7, leaving no per-query driver seconds at all. This line
    // is ~400 bytes (10 names × [min_sec, spread]) and rides after
    // total_only so the tail always carries the slowest queries.
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v, sp, _) => "\"" + k + f"""\":[$v%.3f,$sp%.2f]""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"top10_slowest","unit":"sec","mode":"$modeLabel","slowest":$top10}""")
  }
}
