package graft

import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan assertions: the properties that make these operators
  * scale (pushdown, pruning, broadcast, partial aggregation) are pinned
  * here so a regression in plan shape fails loudly, not just slowly.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("point get pushes the key filter into the parquet scan") {
    val p = plan("q_point_get")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), p)
  }

  test("point get prunes unused columns from the scan") {
    val p = plan("q_point_get")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("star join broadcasts both dimension tables") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("aggregations are partial (map-side combine) before the exchange") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("range scan pushes both bounds") {
    val p = plan("q_key_range")
    assert(p.contains("GreaterThanOrEqual(o_orderkey,100)") &&
      p.contains("LessThanOrEqual(o_orderkey,120)"), p)
  }

  test("bucketed fact join plans without a shuffle exchange") {
    val p = plan("q_bucketed_join")
    val joinSection = p.substring(p.indexOf("Join"))
    // the only exchange allowed is for the final aggregation/sort,
    // which sit above the join in the plan text
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(l_orderkey"), p)
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("partitioned layout prunes by partition filter") {
    val p = plan("q_partition_pruning")
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p)
    assert(p.contains("(o_year") && p.contains("= 1997"), p)
  }

  test("embedding near-dup candidates come from an equi-join, never a cartesian") {
    val p = plan("q_dedup_embed")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("salted join spreads the hot key over (key, salt) and replicates the dim 8x") {
    val p = plan("q_salted_join")
    // dimension replicated by a broadcast cross with the 8-row range —
    // no shuffle manufactures the replicas
    assert(p.contains("Range (0, 8"), p)
    // the join key is (key, salt) on BOTH sides: each hot key spreads
    // over 8 tasks instead of one
    assert("\\[user_id#\\d+L, salt#\\d+L\\], \\[c_custkey#\\d+L, salt#\\d+L\\]"
      .r.findFirstIn(p).isDefined, p)
    // the fact side is never hash-partitioned on the bare key (the
    // skew shape salting exists to prevent)
    assert("hashpartitioning\\(user_id#\\d+L, \\d".r.findFirstIn(p).isEmpty, p)
  }

  test("salted join at scale (broadcast off): the only fact shuffle is (key, salt)") {
    // disabling auto-broadcast simulates a fact⋈fact-sized dim — the
    // plan must shuffle the fact exactly once, on (key, salt)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q_salted_join")
      assert("hashpartitioning\\(user_id#\\d+L, salt#\\d+L"
        .r.findFirstIn(p).isDefined, p)
      assert("hashpartitioning\\(user_id#\\d+L, \\d".r.findFirstIn(p).isEmpty, p)
    } finally spark.conf.set(key, prev)
  }

  test("knn candidate join is thin: no embedding ever enters the candidate exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = sim.Similarity.knnCandidates(spark, sf).queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // every join in the candidate generator carries only (id, band,
    // sig) — embeddings are fetch-joined AFTER candidate dedup
    joins.foreach { j =>
      assert(!j.output.exists(_.name.contains("embedding")),
        j.output.map(_.name).mkString(","))
    }
  }

  test("semi join emits no payload columns from the probe side") {
    val p = plan("q_join_semi")
    assert(p.contains("LeftSemi"), p)
    val orderScan = p.linesIterator.filter(_.contains("orders.parquet")).mkString
    assert(!orderScan.contains("o_totalprice"), orderScan)
  }
}

class ScalePlanSpec extends SparkSpec {
  private def plan(name: String): String =
    run(name).queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  test("decontamination broadcasts the benchmark shingle index") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("topk aggregator runs a partial (map-side) pass before the exchange") {
    val p = plan("q_topk_agg")
    // typed Aggregator plans as ObjectHashAggregate with a partial pass
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topkaggregator") || p.contains("partial_"), p)
  }

  test("corpus shuffle windows are shard-partitioned, never single-partition") {
    val w = run("q_corpus_shuffle").queryExecution.optimizedPlan.toString()
    assert(w.contains("windowspecdefinition(shard"), w)
  }

  test("seq packing running sum never windows a whole source in one partition") {
    val w = run("q_seq_pack").queryExecution.optimizedPlan.toString()
    // the document-level window must partition by (source, sub) — the
    // two-phase prefix sum; a bare partitionBy(source) serializes an
    // entire source through one task at scale
    assert("windowspecdefinition\\(source#\\d+, sub#\\d+L, doc_id#\\d+L ASC"
      .r.findFirstIn(w).isDefined, w)
  }

  test("two-phase prefix-sum offsets join back by broadcast, not shuffle") {
    Seq("q_seq_pack", "q_quantile_bucket", "q_window_dist_scaled").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("SortMergeJoin"), s"$q: $p")
    }
  }

  test("seq packing window parallelism exceeds the source count") {
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    val docs = Tables.documents(spark, sf)
      .withColumn("sub", expr(s"doc_id div ${graft.text.Corpus.SubShardDocs}"))
    val srcs = docs.select(countDistinct(col("source"))).head.getLong(0)
    val parts = docs.select(countDistinct(col("source"), col("sub"))).head.getLong(0)
    assert(parts > srcs, s"window groups $parts <= sources $srcs")
  }

  test("quantile bucketing ranks via sub-sharded windows, not one window per language") {
    val w = run("q_quantile_bucket").queryExecution.optimizedPlan.toString()
    // document-level rank partitions by (lang, n_chars, sub); the only
    // per-lang windows run over the tiny (lang, n_chars, sub) counts
    assert("windowspecdefinition\\(lang#\\d+, n_chars#\\d+L?, sub#\\d+L, doc_id#\\d+L ASC"
      .r.findFirstIn(w).isDefined, w)
  }

  test("scaled window-dist equals the native window form row-for-row") {
    val scaled = run("q_window_dist_scaled").collect().toSeq
    val native = run("q_window_dist").collect().toSeq
    assert(scaled == native)
  }

  test("scaled window-dist never windows a whole status partition") {
    val w = run("q_window_dist_scaled").queryExecution.optimizedPlan.toString()
    assert("windowspecdefinition\\(o_orderstatus#\\d+, bin#\\d+L, o_totalprice"
      .r.findFirstIn(w).isDefined, w)
  }

  test("scaled window-range equals the native RANGE frame row-for-row") {
    val scaled = run("q_window_range_scaled").collect().toSeq
    val native = run("q_window_range").collect().toSeq
    assert(scaled == native)
  }

  test("scaled window-range never windows a whole status partition") {
    val w = run("q_window_range_scaled").queryExecution.optimizedPlan.toString()
    assert(!"windowspecdefinition\\(o_orderstatus#\\d+, (price_cents|_w\\d)"
      .r.findFirstIn(w).isDefined, w)
    assert("windowspecdefinition\\(o_orderstatus#\\d+, bin#\\d+L"
      .r.findFirstIn(w).isDefined, w)
  }

  test("reservoir sample bounds each partition's contribution map-side") {
    val p = plan("q_reservoir_sample")
    // bottom-k-by-hash is mergeable: the plan must keep <= k rows per
    // partition BEFORE the exchange (partial WindowGroupLimit)
    assert("WindowGroupLimit .*row_number\\(\\), 20, Partial".r.findFirstIn(p).isDefined, p)
  }

  test("bloom semi join prefilters the fact scan with a constant-size sketch") {
    val p = plan("q_bloom_semijoin")
    // sketch built with a partial (map-side) aggregate pass
    assert(p.contains("partial_bloom_filter_agg"), p)
    assert(p.contains("LeftSemi"), p)
    // the might_contain predicate sits BELOW the semi join (a child
    // Filter on the fact scan), so only bloom-positives enter the join
    assert(p.indexOf("might_contain") > p.indexOf("LeftSemi"), p)
  }

  test("IVF search physically reads only probed cells (dynamic partition pruning)") {
    val p = plan("q_sim_ann_ivf")
    // the index is a cell-partitioned written layout; the broadcast
    // probe side prunes unprobed cell directories at the scan
    assert(p.contains("ivf_index_"), p)
    assert(p.contains("dynamicpruningexpression(cell"), p)
  }

  test("two-level IVF search prunes BOTH partition levels at the scan") {
    val p = plan("q_sim_ann_ivf2")
    assert(p.contains("ivf2_index_"), p)
    // both partition columns carry a dynamic pruning expression from
    // the broadcast probe side — the scan reads only the probed
    // (cell, fine) directories. (The explain string truncates the
    // PartitionFilters list, so count the pruning subqueries instead
    // of matching each column by name.)
    assert(p.contains("dynamicpruningexpression(cell"), p)
    val nPrune = "dynamicpruning#".r.findAllIn(p).size
    assert(nPrune >= 2, s"expected 2 pruning subqueries, saw $nPrune:\n$p")
  }

  test("JSON queries read the parsed-events layout and never re-parse") {
    Seq("q_json_funcs", "q_map_funcs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("from_json"), s"$q re-parses: $p")
      assert(p.contains("events_parsed_"), s"$q misses layout: $p")
    }
  }

  test("doc chunking plan is shuffle-free up to the sink sort") {
    val p = plan("q_doc_chunks")
    // at most one Exchange: the final presentation orderBy's range
    // exchange, which plans.SmallSort drops when the input is small
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Generate explode"), p)
  }

  test("fuzzy edit dedup self-joins on the block key, never all-pairs") {
    val p = plan("q_dedup_fuzzy_edit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // levenshtein runs AFTER the blocked equi-join, per candidate only
    assert(p.contains("levenshtein"), p)
  }

  test("cohort retention prunes the events scan to (user_id, ts)") {
    val p = plan("q_cohort_retention")
    val scans = p.linesIterator.filter(_.contains("events.parquet")).mkString
    assert(!scans.contains("props") && !scans.contains("value") &&
      !scans.contains("event_type"), scans)
  }

  test("zscore anomaly scan broadcasts the moment table over the facts") {
    val p = plan("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchange is the tiny moment aggregate's own —
    // the fact side reaches the join unshuffled from its scan
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("span dedup exchanges carry only hashes, ids, and positions — never text") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, RepartitionOperation}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the manifest BUILD pipeline (the registered query reads the
    // written layout): every join and aggregate must output only thin
    // columns — the window hash is computed in the per-row projection
    // BEFORE any shuffle, so document text (and the token array) never
    // rides an exchange
    val qe = dedup.Dedup.spanPipeline(spark, sf).queryExecution
    val thin = Set("doc_id", "pos", "gh", "nd", "island", "brk",
      "span_start", "span_end", "span_tokens")
    val collected = qe.optimizedPlan.collect {
      case j: Join => j.output
      case a: Aggregate => a.output
    }
    assert(collected.nonEmpty)
    collected.foreach { out =>
      out.foreach(attr => assert(
        thin.exists(attr.name.startsWith) || attr.name.startsWith("min(") ||
          attr.name.startsWith("max(") || attr.name.startsWith("sum("),
        s"fat column in exchange path: ${attr.name}"))
    }
    val p = qe.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("domain stats aggregate is map-side partial; text stays below the exchange") {
    val p = plan("q_domain_stats")
    // text_stats runs in the per-row projection under the partial
    // aggregate, so only (source, partial sums) ride the shuffle
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    run("q_domain_stats").queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.output
    }.foreach(_.foreach(attr =>
      assert(attr.name != "text", s"text in aggregate output")))
  }

  test("domain filter broadcasts the kept-domain list; the fact join carries no text") {
    val qe = run("q_domain_filter").queryExecution
    val p = qe.explainString(SimpleMode)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    qe.optimizedPlan.collect { case j: Join => j.output }
      .foreach(_.foreach(attr =>
        assert(attr.name != "text", "text rides a join output")))
  }

  test("ivf append broadcasts the centroid table; the corpus side never sort-merges") {
    val p = plan("q_sim_ivf_append")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("semantic dedup pairs come from a cell equi-join, never a cartesian") {
    val p = plan("q_dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PQ ADC scoring never exchanges a float vector; rerank fetch is bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    val qe = run("q_sim_ann_ivf_pq").queryExecution
    // the ADC aggregate (sum of subspace lookups) must see only
    // ids/codes/doubles — the float corpus is rerank-only, above it
    val adcAggs = qe.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.name == "adc") => a
    }
    assert(adcAggs.nonEmpty)
    def subtree(p: LogicalPlan): Seq[LogicalPlan] = p +: p.children.flatMap(subtree)
    adcAggs.foreach { a =>
      // corpus float vectors (`embedding`) must never cross a join in
      // the scoring path — candidates are (id, cell, code) thin; the
      // only vector allowed through a join is `qv`, the renamed
      // BOUNDED query batch (vec_id < QueryBatch) seeding the
      // distance tables.
      val joins = subtree(a).collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.nonEmpty)
      joins.foreach(j =>
        assert(!j.output.exists(_.name == "embedding"),
          j.output.map(_.name).mkString(",")))
      assert(subtree(a).exists(n =>
        n.toString.contains("vec_id#") && n.toString.contains("< 8")),
        "query-batch bound filter missing")
    }
    // no cartesian anywhere; codebook and probe sides broadcast
    val phys = qe.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!phys.contains("CartesianProduct"), phys)
    assert(phys.contains("BroadcastExchange"), phys)
  }

  test("approx profile twin plans without EXPAND; the exact audit form carries it") {
    // the whole point of the sketch twin: the exact form's 4-way
    // countDistinct multiplies the scan ~5× through Expand, the HLL
    // form is one map-combined aggregate pass
    assert(plan("q_profile_table").contains("Expand"))
    val p = plan("q_profile_table_approx")
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial_approx_count_distinct") ||
      p.contains("approx_count_distinct"), p)
  }

  test("filtered vector search pushes the label predicate into the corpus scan") {
    val p = plan("q_sim_filtered_topk")
    assert(p.contains("EqualTo(label,3)"), p)
    assert(p.contains("BroadcastExchange"), p) // query batch broadcasts
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hll partial union reads only the written sketch layout, never the base table") {
    val p = plan("q_hll_partial_union")
    assert(p.contains("hll_partials"), p)
    assert(!p.contains("lineitem"), p)
  }

  test("skew profile is a distributed top-k, not a global window over the key space") {
    val p = plan("q_skew_keys")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Window runs AFTER the 10-row limit (rank over survivors)
    assert(p.contains("partial_count"), p) // map-side combined key counts
  }
}

/** Plan pins for the round-8 additions. */
class Round8PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("random projection is a pure map over the scan — no exchange before the sink sort") {
    val p = plan("q_embed_project")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("bpe encode joins the broadcast vocabulary and combines sums map-side") {
    val p = plan("q_bpe_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("fuzzy decontamination broadcasts the bench bands; no cartesian anywhere") {
    val p = plan("q_decontaminate_fuzzy")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hybrid rrf never plans a cartesian; both retrievers broadcast the query side") {
    val p = plan("q_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("time travel resolves snapshots from the metadata log, scanning only live data files") {
    val f0 = sources.Layouts.snapshot(spark, sf, 0L).inputFiles
    assert(f0.nonEmpty && f0.forall(_.contains("/v0/")))
  }
}

/** Plan pins for the round-8 tail additions. */
class Round8TailPlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("constraint suite plans without EXPAND; FK check is a broadcast anti join") {
    val p = plan("q_validate_constraints")
    assert(!p.contains("Expand"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("scd2 history reuses one hash partitioning across both windows") {
    val p = plan("q_scd2_history")
    val hashExchanges = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"$hashExchanges hash exchanges:\n$p")
  }

  test("weighted sample keeps the reservoir's map-side group limit") {
    val p = plan("q_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("phash dedup never carries the payload through the candidate join") {
    val p = plan("q_media_phash_dedup")
    val joinLines = p.split("\n").filter(_.contains("Join"))
    assert(joinLines.nonEmpty)
    assert(!joinLines.exists(_.contains("payload")), p)
  }
}

/** Plan pins for the round-9 additions. */
class Round9PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("logistic quality filter is a pure codegen map — only the sink sort exchanges") {
    val p = plan("q_quality_logistic")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("span corruption never shuffles: one per-document kernel call") {
    val p = plan("q_span_corruption")
    // the round-14 kernel rewrite removed the token-level doc_id
    // exchange (posexplode + window + collect_list rebuild); the only
    // remaining exchange is the presentation sort's range partition
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("span_corrupt"), p)
  }

  test("scene cut is one mapPartitions pass; the source filter pushes to the scan") {
    val p = plan("q_media_scene_cut")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("MapPartitions"), p)
    assert(p.contains("Not(EqualTo(source,src0))"), p)
  }

  test("audio VAD shares one doc_id exchange across all three windows and the agg") {
    val p = plan("q_media_audio_vad")
    val n = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(n == 1, s"$n hash exchanges:\n$p")
    assert(p.contains("EqualTo(source,src1)"), p)
    assert(p.contains("partial_min"), p)
  }

  test("recursive ancestry aggregates map-side before its one exchange") {
    val p = plan("q_recursive_ancestry")
    assert(p.contains("UnionLoop"), p)
    assert(p.contains("partial_max"), p)
  }

  test("vacuum resolves from the log, scans ONLY the named file sets, aggregates map-side") {
    // the DECISION is still metadata-only (the log resolve collects
    // KB-scale path lists at build time); the published audit now
    // scans exactly the two resolved file sets to state their table
    // semantics — so the plan must hold file-list Parquet scans (the
    // timetravel warehouse dirs, never the base orders table) with
    // map-combined aggregates on top
    val p = plan("q_layout_vacuum")
    assert(p.contains("FileScan parquet"), p)
    assert(p.contains("timetravel_"), p)
    assert(!p.contains("orders.parquet"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("bm25 never shuffle-joins the corpus: stats broadcast, top-k is a bounded head") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("doc diversity aggregates map-side before its exchanges") {
    val p = plan("q_doc_diversity")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("line dedup: document text rides no join or aggregate output") {
    val qe = run("q_dedup_lines").queryExecution
    val p = qe.explainString(SimpleMode)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    qe.optimizedPlan.collect { case j: Join => j.output }
      .foreach(_.foreach(attr =>
        assert(attr.name != "text", "text rides a join output")))
    qe.optimizedPlan.collect { case a: Aggregate => a.output }
      .foreach(_.foreach(attr =>
        assert(attr.name != "text" && attr.name != "tk",
          s"${attr.name} rides an aggregate output")))
  }

  test("ewma is one window pass over one user_id exchange") {
    val p = plan("q_ewma")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"$n hash exchanges:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("mad anomaly broadcasts both moment tables; the fact side never shuffles") {
    // ≥2: the dev subtree (events ⋈ med) may or may not be reused
    // across the mad branch, so the broadcast count is 2 or 3 — what
    // must hold is that every join is broadcast, none sort-merge
    val p = plan("q_anomaly_mad")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}

/** Plan pins for the round-10 OLAP/quality batch. */
class Round10PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("bitmap distinct ORs words map-side and never plans an EXPAND") {
    val p = plan("q_bitmap_distinct")
    assert(p.contains("partial_bit_or"), p)
    assert(!p.contains("Expand"), p)
  }

  test("moments merge reads only the written partial layout, never lineitem") {
    val p = plan("q_moments_merge")
    assert(p.contains("moment_partials"), p)
    assert(!p.contains("lineitem.parquet"), p)
  }

  test("skyline windows over the distinct-point aggregate, not raw parts") {
    val p = plan("q_skyline")
    // the single-partition sort sees only the (price, size) domain:
    // the distinct aggregate must sit below the window exchange
    val win = p.indexOf("Window")
    val agg = p.indexOf("HashAggregate", win)
    assert(win >= 0 && agg > win, p)
    assert(p.contains("partial_count"), p)
  }

  test("gopher quality filter is one codegen map — the sink sort runs as one task") {
    val p = plan("q_quality_gopher")
    // no exchange at all: the sink sort's input fits one AQE advisory
    // partition, so it sorts one coalesced partition (plans.SmallSort)
    assert("Exchange".r.findAllIn(p).size == 0, p)
    assert("Sort \\[doc_id#\\d+L ASC NULLS FIRST\\], true, 0\n\\s*\\+- Coalesce 1"
      .r.findFirstIn(p).isDefined, p)
  }

  test("interval join pairs meet on the bin equi-join, never a cartesian") {
    val p = plan("q_interval_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin [bin"), p)
  }

  test("dsir weight table broadcasts back over the per-doc counts") {
    val p = plan("q_dsir_weights")
    // the broadcast hint is CONDITIONAL on measured vocabulary size
    // (Quality.scala's vocabRows gate, the Bpe.scala rule): at test
    // scale the gate admits it, so the weight join must plan as a
    // broadcast — while a web-scale vocabulary would drop the hint
    // and leave the strategy to AQE. This pin certifies the
    // below-threshold branch; the gate itself is source-audited.
    assert(p.contains("BroadcastHashJoin [token"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-wide token aggregate runs ONCE: the vocab checkpoint
    // feeds both the totals row and the weight table
    assert("FileScan parquet \\[text".r.findAllIn(p).size <= 1, p)
  }

  test("triangle wedge join is an equi-join; only the 1-row stat tables cross") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    // wedges close via LeftSemi against the oriented edge set
    assert(p.contains("LeftSemi"), p)
  }

  test("gap interpolation windows add no exchange and no quadratic frame") {
    val p = plan("q_gap_interp")
    // both directions are RUNNING frames (the unbounded-following
    // frame rescans the tail per row — O(n²), measured 9.5 s at
    // sf0.1); the forward pass re-sorts DESC inside the partition,
    // and every window reuses the spine aggregate's partitioning —
    // zero window-key exchanges
    assert(!p.contains("unboundedfollowing"), p)
    assert("Exchange hashpartitioning\\(et".r.findAllIn(p).size == 0, p)
    assert("\\+\\- Window ".r.findAllIn(p).size >= 2, p)
  }
}

/** Plan pins for the round-10 second batch. */
class Round10bPlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("nearest as-of carries both directions over ONE user exchange") {
    val p = plan("q_asof_nearest")
    // ONE bare-user_id exchange feeds both carry directions — the
    // forward pass is a DESC running frame (O(n), vs the O(n²)
    // unbounded-following frame), so it adds only an in-partition
    // re-sort: two Window nodes, still one exchange (the second
    // user_id exchange is the click-dedup aggregate, keyed
    // (user_id, instant))
    assert("hashpartitioning\\(user_id#\\d+L, \\d+\\)".r.findAllIn(p).size == 1, p)
    assert("\\+\\- Window ".r.findAllIn(p).size == 2, p)
    assert(!p.contains("unboundedfollowing"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("kneser-ney scores occurrences map-side; no corpus-sized exchange or checkpoint") {
    // r18 re-derivation of the r14 "never re-scan" pin: the per-doc
    // bigram pre-aggregate was dropped — its (doc_id, v, nx) exchange
    // carried nearly-unique string triples (map-side combine reduced
    // nothing) and its checkpoint stored a corpus-sized table. The
    // published plan now scans documents EXACTLY ONCE (the scoring
    // pass), attaches the checkpointed bigram-type model by broadcast
    // (map-side — the occurrence stream never sort-merges), and the
    // only exchanges above the scan are the thin per-doc aggregate
    // and the sink sort.
    val p = plan("q_lm_kneser_ney")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3, p) // model reused per marginal
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("stratified sample broadcasts the allocation over one per-stratum window") {
    val p = plan("q_stratified_sample")
    assert(p.contains("BroadcastHashJoin [lang"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("quantile partial union reads only the written histogram layout") {
    val p = plan("q_quantile_partial_union")
    assert(p.contains("quantile_partials"), p)
    assert(!p.contains("lineitem.parquet"), p)
  }

  test("wordpiece encode joins the broadcast piece dictionary; corpus never sort-merges") {
    val p = plan("q_wordpiece_encode")
    assert(p.contains("BroadcastHashJoin [w"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("seasonal decomposition computes the corpus-wide subtree once (checkpoint barrier)") {
    val p = plan("q_seasonal_decompose")
    // the trend table is checkpointed: the published plan joins the
    // snapshot against its own seasonal aggregate — the raw events
    // scan must NOT appear twice (it must not appear at all)
    assert(!p.contains("events.parquet"), p)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}

/** Plan pins for the round-10 fourth batch. */
class Round10cPlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("attribution range-count is a cumulative carry, not an interval join") {
    val p = plan("q_attribution_linear")
    // the union sorts once per user; no join anywhere in the plan
    assert(!p.contains("Join"), p)
    assert("hashpartitioning\\(user_id#\\d+L, \\d+\\)".r.findAllIn(p).size == 1, p)
    assert(!p.contains("unboundedfollowing"), p)
  }

  test("containment verifies candidates from the capped index, never all-pairs") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("degree distribution aggregates map-side into bounded bins") {
    val p = plan("q_graph_degree_dist")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}

/** Plan pins for the round-10 fifth batch. */
class Round10dPlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("composed pipeline stays on thin semi/anti joins — no cartesian, no payload joins") {
    val p = plan("q_corpus_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("link prediction top-50 is a distributed TakeOrdered over the wedge join") {
    val p = plan("q_graph_linkpred")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // witness-list cap: the row_number ≤ k filter on the wedge join's
    // inputs compiles to a partial+final WindowGroupLimit, so each
    // shared neighbor forwards at most k rows into the join — the
    // hub-quadratic bound is enforced in the PLAN, not just the prose
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("quantization eval broadcasts the query batch and bounds the rank map-side") {
    val p = plan("q_sim_quant_eval")
    // the corpus pair stage is a broadcast of the bounded batch (the
    // joins above it operate on ≤ 5·|batch|-row top-k tables)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"), p)
    // partial WindowGroupLimit: each partition forwards at most 5
    // rows per query into the rank exchange
    assert(p.contains("row_number(), 5, Partial"), p)
  }
}

/** Plan pins for the round-11 sixth batch. */
class Round11PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("market basket top-50 is a distributed TakeOrdered; item counts broadcast") {
    val p = plan("q_market_basket")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the distinct (ok, pk) projection is checkpointed once and every
    // consumer (item counts, both self-join sides, the n_orders
    // scalar) reads the materialized RDD — lineitem is scanned
    // exactly once, at checkpoint time, never in this plan
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("lineitem"), p)
    // n_orders is a broadcast 1-row aggregate folded in-plan (no
    // driver-side count() job, no frozen literal)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stl anomaly reads the checkpointed decomposition; moment tables broadcast") {
    val p = plan("q_anomaly_stl")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("events.parquet"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("rfm aggregates once per customer before the quartile windows") {
    val p = plan("q_rfm_segment")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}

/** Plan pins for the round-12 additions. */
class Round12PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SimpleMode
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("cross-modal join carries fingerprints, never blobs, through the exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val p = run("q_crossmodal_join").queryExecution.optimizedPlan
    val joins = p.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // both join inputs are (pair_id, 16-byte md5, length) — the image
    // content and the caption text are consumed by md5 projections
    // BELOW the join, so no blob enters the exchange in either
    // direction
    joins.foreach { j =>
      j.children.foreach { c =>
        assert(!c.output.exists(a =>
          a.name.contains("content") || a.name == "text"),
          j.nodeName + " consumes: " + c.output.map(_.name).mkString(","))
      }
    }
  }

  test("perplexity buckets read the checkpointed score table; cutoffs broadcast") {
    val p = plan("q_perplexity_buckets")
    // the corpus-wide bigram aggregate runs ONCE (at checkpoint time):
    // both the cutoff branch and the bucketing join read the
    // materialized thin score table, and the per-language cutoffs
    // broadcast back
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("documents.parquet"), p)
    assert(p.contains("BroadcastHashJoin [lang"), p)
    // the only windows run over the bounded (lang, score) histogram,
    // never over per-document rows
    assert(!p.contains("windowspecdefinition(lang#") ||
      p.contains("score_pm"), p)
  }

  test("ngram novelty runs its distinct shuffle once; gram counts broadcast") {
    val p = plan("q_ngram_novelty")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("documents.parquet"), p)
    assert(p.contains("BroadcastHashJoin [gh"), p)
  }

  test("unigram train serves from the written piece-model layout, corpus untouched") {
    // round-13: the trained model is a write-once layout (a tokenizer
    // model is a per-corpus artifact), so a train READ is one layout
    // scan + the publish sort — no corpus scan, no vocabulary explode
    val p = plan("q_unigram_train")
    assert(p.contains("unigram_pieces"), p)
    assert(!p.contains("documents.parquet"), p)
  }

  test("diversity sample reads only thin (vec_id, cell) from the layout; alloc broadcasts") {
    val p = plan("q_diversity_sample")
    // embeddings are never read — the layout scan prunes to ids
    val scans = p.linesIterator.filter(_.contains("FileScan")).mkString
    assert(!scans.contains("embedding"), scans)
    assert(p.contains("BroadcastHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("media pipeline: payload bytes never cross a shuffle boundary") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Join, Sort, Window => LWindow}
    val p = run("q_media_pipeline").queryExecution.optimizedPlan
    // every shuffle-inducing logical node (join, aggregate, window,
    // sort) consumes only thin inputs — payloads are consumed in
    // place by the scan→kernel passes and never enter an exchange
    val shufflers = p.collect {
      case n @ (_: Join | _: Aggregate | _: LWindow | _: Sort) => n
    }
    assert(shufflers.nonEmpty)
    shufflers.foreach { n =>
      n.children.foreach { c =>
        assert(!c.output.exists(_.name.contains("payload")),
          n.nodeName + " consumes: " + c.output.map(_.name).mkString(","))
      }
    }
  }
}

/** Plan pins for the round-15 split family and overlap operators. */
class Round15PlanSpec extends SparkSpec {
  private def plan(name: String): String =
    run(name).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)

  test("leakage-safe split never FORCES a broadcast of the labels layout") {
    // cluster labels grow with the corpus (the q_dedup_soft rule): at
    // test SF Catalyst may choose a broadcast join on measured size —
    // that's the optimizer's call and reverses at scale — but the
    // LOGICAL plan must carry no broadcast hint pinning an unbounded
    // table to the driver at any scale. The bounded 1-row audit
    // aggregates are the only hinted broadcasts.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val lp = run("q_split_leakage_safe").queryExecution.analyzed
    val hinted = lp.collect { case h: ResolvedHint => h }
    hinted.foreach { h =>
      // every hinted subtree must be a bounded aggregate (≤ a few
      // columns of global agg output), never the labels relation
      assert(h.child.output.map(_.name).toSet
        .subsetOf(Set("straddling_clusters", "naive_straddling_clusters",
          "n_total")),
        "forced broadcast of: " + h.child.output.map(_.name).mkString(","))
    }
  }

  test("stratified split never exchanges a text column") {
    val p = run("q_split_stratified").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    p.collect { case n @ (_: Join | _: Aggregate) => n }.foreach { n =>
      n.children.foreach(c =>
        assert(!c.output.exists(_.name == "text"),
          n.nodeName + " consumes text"))
    }
  }

  test("source overlap exchanges only (source, gram) rows, never text") {
    val p = run("q_source_overlap").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val shufflers = p.collect { case n @ (_: Join | _: Aggregate) => n }
    assert(shufflers.nonEmpty)
    shufflers.foreach { n =>
      n.children.foreach(c =>
        assert(!c.output.exists(_.name == "text"),
          n.nodeName + " consumes: " + c.output.map(_.name).mkString(",")))
    }
  }

  test("temporal split windows over the thin per-date table, not the facts") {
    // the only Window in the plan must consume the per-date aggregate
    // (o_orderdate + count), never a fact-width input
    val p = run("q_split_temporal").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = p.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach(w => w.children.foreach(c =>
      assert(c.output.length <= 2,
        "window consumes " + c.output.map(_.name).mkString(","))))
  }

  test("global windows sit only over bounded inputs (aggregate or limit)") {
    // a Window with an empty partitionSpec funnels its whole input
    // through ONE task — survivable only when that input is already
    // bounded: a calendar-bounded aggregate (the temporal split's
    // per-date table) or a post-limit ranking (the graph top-20s).
    // This pin walks each global window's child subtree and fails if
    // any leaf scan is reachable WITHOUT an Aggregate or GlobalLimit
    // in between — i.e. if a refactor ever points a global orderBy at
    // a fact table, this fails at test time, not at 100 TB.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LogicalPlan, Window => LWindow}
    def boundedBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case leaf if leaf.children.isEmpty => false // raw scan reached
      case other => other.children.forall(boundedBelow)
    }
    for (q <- Seq("q_split_temporal", "q_graph_pagerank", "q_graph_hits")) {
      val p = run(q).queryExecution.optimizedPlan
      val globals = p.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(globals.nonEmpty, s"$q: expected a global window in the plan")
      globals.foreach(w => assert(boundedBelow(w.child),
        s"$q: global window over an unbounded input:\n${w.child}"))
    }
  }
}

/** The hash-index point-get analog: bucket pruning must fire. */
class PointGetIndexedPlanSpec extends SparkSpec {
  test("indexed point get reads exactly one bucket") {
    val p = run("q_point_get_indexed").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    val rows = run("q_point_get_indexed").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) == 42L))
  }
}

class SftPlanSpec extends SparkSpec {
  private def plan(name: String): String =
    run(name).queryExecution.explainString(SimpleMode)

  test("sft render/mask move text through ONE conversation-key exchange") {
    // the window (turn numbering) and the per-conversation aggregate
    // share the conv_id partitioning: a refactor that keys them
    // differently doubles the text movement and fails here
    for (q <- Seq("q_sft_render", "q_sft_mask")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q: ${p.linesIterator.filter(_.contains("Exchange")).mkString("\n")}")
      assert(p.contains("hashpartitioning(conv_id"), p)
    }
  }

  test("sft prompt dedup: the fingerprint exchange never carries content") {
    val p = run("q_sft_prompt_dedup").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val fpWindows = p.collect {
      case w: Window if w.partitionSpec.exists(
        _.references.exists(_.name == "prompt_fp")) => w }
    assert(fpWindows.nonEmpty)
    fpWindows.foreach(w => assert(
      !w.child.output.exists(_.name == "content"),
      "prompt window consumes: " + w.child.output.map(_.name).mkString(",")))
  }

  test("sft pack: content is only ever consumed under conv-key locality") {
    // the conv-key window and the per-conversation aggregate share
    // the conv_id partitioning; every later stage (prompt_fp window,
    // sub-shard offsets, bin aggregate) consumes fingerprints +
    // integers only — the render/content text never moves twice.
    // (Checked on the OPTIMIZED LOGICAL plan: physical Exchange lines
    // print only partition keys, not carried columns, so a
    // string-level physical assertion would be vacuous.)
    //
    // r18: the published q_sft_pack plan checkpoints the thin kept
    // table, which would make this walk vacuous (nothing below the
    // barrier is visible), so the audit binds to the PRE-CHECKPOINT
    // builder — the MmSpec pre-checkpoint precedent — and the
    // published plan additionally asserts text-freedom outright.
    val pub = run("q_sft_pack").queryExecution.optimizedPlan
    assert(!pub.output.exists(a => a.name == "content" || a.name == "turn"))
    pub.foreach(n => assert(!n.output.exists(a =>
      a.name == "content" || a.name == "turn"),
      "published sft-pack plan carries text: " + n.nodeName))
    val qe = text.Sft.sftKeptConvs(spark, sf).queryExecution
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val o = qe.optimizedPlan
    assert(o.collect { case n @ (_: Window | _: Aggregate)
        if n.children.exists(_.output.exists(_.name == "content")) => n }
      .nonEmpty, "audit subtree no longer consumes content — rebind the pin")
    // the logical tree legitimately repeats the conv-aggregate subtree
    // (offsets branch + join branch; physical exchange reuse dedups it
    // at runtime) — the invariant is that EVERY node consuming content
    // is conversation-keyed: text is only ever processed under conv_id
    // locality, never under a fingerprint/bin/sub key
    o.collect { case n @ (_: Window | _: Aggregate)
        if n.children.exists(_.output.exists(c =>
          c.name == "content" || c.name == "turn")) => n }
      .foreach {
        case w: Window => assert(w.partitionSpec.exists(
          _.references.exists(_.name == "conv_id")),
          "content under a non-conv window")
        case a: Aggregate => assert(a.groupingExpressions.exists(
          _.references.exists(_.name == "conv_id")),
          "content under a non-conv aggregate")
        case _ =>
      }
  }

  test("pref pairs: score computes map-side, one group-key exchange, no text above it") {
    val p = plan("q_pref_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    val o = run("q_pref_pairs").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    o.collect { case n @ (_: Window | _: Aggregate) => n }.foreach(n =>
      n.children.foreach(c => assert(!c.output.exists(_.name == "text"),
        n.nodeName + " consumes text")))
  }
}
