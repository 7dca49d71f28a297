package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph centrality: PageRank over a bipartite business graph —
  * supplier ↔ customer edges derived from who supplied whose orders
  * (lineitem ⋈ orders), symmetrized so every node has out-edges (no
  * dangling-mass special case).
  *
  * Why a training-data engine carries this: host-graph centrality is
  * a standard corpus-quality signal — Common Crawl publishes host-
  * level PageRank and web-scale corpus filters (CCNet-descended
  * pipelines) use link centrality to weight or threshold sources.
  * This operator is that computation's shape: nodes are hosts,
  * edges are links, ranks feed the quality column the sampling
  * operators (q_mixture_sample, q_domain_filter) consume.
  *
  * Scale design: the edge list is THIN (two longs per edge,
  * distinct-deduped); each of the fixed `PrIters` iterations is one
  * equi-join of edges against the (node, rank/outdeg) table plus one
  * map-side-combined sum by destination — the exact shuffle profile
  * of the connected-components rounds, linear in |E| per iteration
  * with bounded iteration count. `localCheckpoint` truncates the
  * iterative lineage (the standard pattern shared with CC and BPE).
  * No driver-side data movement or actions: 1/n comes from a
  * broadcast 1-row aggregate, so the only driver-visible rows are
  * the final top-20 implied by the bench sink.
  *
  * Fully oracled (round 12): the bounded damping loop unrolls into
  * PrIters CTEs of plain join+sum arithmetic — the q_graph_community
  * technique on an FP iterate. Both engines run the identical IEEE
  * double ops; only cross-row summation order differs (~1e-15
  * relative per round), absorbed by the published 6-decimal rounding
  * with ~9 orders of margin. GraphSpec additionally replays the
  * iteration in plain Scala and pins every node's rank to 1e-9,
  * rank-mass conservation (Σrank = 1), and the top-20 ordering.
  */
object Graph {

  /** Fixed iteration budget; PR converges geometrically at damping
    * 0.85, and the spec pins the exact iterate, not the fixpoint, so
    * the budget is a cost knob, not a correctness one.
    */
  val PrIters = 6
  val Damping = 0.85

  /** Fixed synchronous label-propagation rounds; the operator (and
    * its oracle) pin the exact 4th iterate, PageRank-style, so the
    * budget is a cost knob, not a correctness one (synchronous LPA
    * can oscillate on bipartite structure — a fixpoint is not even
    * guaranteed to exist). */
  val CommunityIters = 4

  /** Link-prediction witness-list cap: each shared neighbor
    * contributes at most this many (smallest-id) members to the wedge
    * join, bounding per-witness candidate fan-out at C(k,2) ≈ 2k²
    * regardless of hub degree. 64 covers this corpus's full degree
    * range (max 62 at sf0.01 — cap is a no-op at test scale, so the
    * oracle and the brute replay certify the capped plan exactly)
    * while turning a degree-d hub's C(d,2) into a constant at 100 TB.
    */
  val LinkpredWitnessCap = 64

  /** Customer node-id tag: high bit 40. An ADDITIVE offset is only
    * disjoint while suppkey stays below the constant (a fixed 1e6
    * broke past TPC-H sf100); the high-bit tag stays disjoint for any
    * key below 2^40 ≈ 1.1e12 — comfortably above both key spaces at
    * the 100 TB target (customers ~1.5e10 at sf100k) — with no
    * per-corpus aggregate to derive it.
    */
  private val CustTag = 1L << 40

  /** Distinct supplier↔customer pair table as a WRITE-ONCE layout
    * (the knn_graph precedent): every graph query over the business
    * graph starts from this thin two-long table, and before round 11
    * each of them re-derived the lineitem⋈orders join + distinct per
    * run — the single biggest repeated cost in the bench head. At
    * 100 TB an edge list extracted from a fact table IS an ingest-time
    * layout: built once when the facts land, re-attached by every
    * later analysis (`Layouts.ensureLayout`: `_SUCCESS` ⇒ re-read,
    * never rebuild — Round14PersistenceSpec pins it).
    */
  private[graft] def pairsLayout(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "graph_pairs") {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("a"),
          col("o_custkey").bitwiseOR(CustTag).as("b"))
        .distinct()
    }

  /** Distinct supplier→customer edges, symmetrized — a narrow
    * projection over the written pair layout (no join at query time).
    */
  private[graft] def edges(s: SparkSession, d: String): DataFrame = {
    val ab = pairsLayout(s, d)
    ab.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(ab.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Distinct co-purchase edges for q_graph_triangles: two parts are
    * linked when they appear in the same URGENT order (the priority
    * filter keeps edge density at a realistic graph sparsity). The
    * per-order pair fan-out is C(items,2) with items bounded by order
    * width (≤ 7 here) — quadratic in ORDER size, never in corpus
    * size. Edges are canonicalized a < b and deduped. A write-once
    * layout since round 11: triangles/linkpred/degree_dist all read
    * the same edge list, so the derivation runs once per corpus.
    */
  private[graft] def coEdges(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "graph_coedges") {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
    }

  /** Degree-ordered orientation: src = the (deg, id)-smaller endpoint.
    * Checkpointed — the triangle query reads it three times (two path
    * sides + the closure semi-join).
    */
  private[graft] def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint()

  /** (edges, oriented wedges) — `Tools scale` readout for the
    * O(|E|^1.5) wedge bound the orientation provides.
    */
  private[graft] def wedgeStats(s: SparkSession, d: String): (Long, Long) = {
    val e = coEdges(s, d)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val ed = orientByDegree(e, deg)
    val wedges = ed.as("e1")
      .join(ed.as("e2"), col("e1.dst") === col("e2.src")).count()
    (e.count(), wedges)
  }

  /** (per-iteration equi-join rows, shuffled rank-table rows) for the
    * PageRank family — `Tools scale` readout certifying the "only
    * the thin rank table shuffles" claim: each damping round streams
    * the pre-partitioned edge side exchange-free, joins |E| rows, and
    * exchanges only the map-combined per-destination sums (≤ nodes
    * rows) plus the refreshed (node, rank) table (= nodes rows). Both
    * counts should grow ~linearly with the corpus (exponent ≈ 1); an
    * all-pairs or rank-materializing design would read ≈ 2.
    */
  private[graft] def pagerankIterStats(s: SparkSession, d: String): (Long, Long) = {
    val e = edges(s, d)
    (e.count(), e.select(col("src")).distinct().count())
  }

  /** The LPA twin: (per-round adjacency-join rows, label-table rows). */
  private[graft] def lpaIterStats(s: SparkSession, d: String): (Long, Long) = {
    val e = coEdges(s, d)
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    (adj.count(), adj.select(col("v")).distinct().count())
  }

  /** Link-prediction candidate rows (a, b) from the wedge join over a
    * symmetric (u, v) adjacency, each shared-neighbor witness list
    * capped at `cap` smallest-id members (cap ≤ 0 → uncapped). The
    * ONE construction behind q_graph_linkpred and `Tools scale`
    * skew fixture — the probe measures exactly the plan that ships.
    */
  private[graft] def wedgeCandidates(adj: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adjc =
      if (cap <= 0) adj
      else adj
        .withColumn("nr",
          row_number().over(Window.partitionBy(col("v")).orderBy(col("u"))))
        .filter(col("nr") <= cap).drop("nr")
    adjc.as("x").join(adjc.as("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .select(col("x.u").as("a"), col("y.u").as("b"))
  }

  /** Exact candidate-row count the wedge join would emit, by the
    * closed form Σ_v C(min(deg v, cap), 2) over witness degrees —
    * computable from one thin degree aggregate without materializing
    * the (possibly quadratic) candidate set, which is the only sane
    * way to COUNT the uncapped set a hub graph would produce.
    * LinkpredSpec pins closed form == materialized join count.
    */
  private[graft] def wedgeCandidateCount(adj: DataFrame, cap: Int): Long = {
    val m =
      if (cap <= 0) col("m")
      else least(col("m"), lit(cap.toLong))
    adj.groupBy(col("v")).agg(count(lit(1)).as("m"))
      .select(m.as("mc"))
      .agg(coalesce(sum(expr("mc * (mc - 1) div 2")), lit(0L)).as("n"))
      .head.getLong(0)
  }

  /** Deliberately skewed synthetic adjacency for `Tools scale`: n
    * nodes in a ring plus a modular chord (≈2n base edges, max base
    * degree ≤ 6) and ONE hub (node 0) touching 2n/9 spokes — i.e. a
    * single node on ~10 % of all edges, the power-law worst case the
    * witness cap exists for. Uncapped wedge candidates grow with
    * C(hub deg, 2) ≈ n²/41 (quadratic); capped, every witness emits
    * ≤ C(64, 2) so growth is linear in n. All-arithmetic construction
    * (range + mod), so both scale points are exactly reproducible.
    */
  private[graft] def skewedAdj(s: SparkSession, n: Long): DataFrame = {
    val ring = s.range(n)
      .select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
    val chord = s.range(n)
      .select(col("id").as("a"), ((col("id") + 2 + col("id") % 11) % n).as("b"))
    val hub = s.range(2 * n / 9)
      .select(lit(0L).as("a"), (col("id") * 9 % n).as("b"))
    val e = ring.unionAll(chord).unionAll(hub)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Triangle count + global clustering coefficient over the
    // co-purchase graph — the density/community signal corpus-graph
    // audits read (and the classic "does your join plan survive a
    // power-law graph" stress test). Implemented with DEGREE-ORDERED
    // ORIENTATION (the MapReduce-era standard): orient each edge from
    // its lexicographically-(degree, id)-smaller endpoint, then count
    // directed paths u→v→w that close with an edge u→w. Orientation
    // bounds every out-degree by O(√|E|) — the wedge join generates
    // Σ C(outdeg, 2) = O(|E|^1.5) candidates worst-case instead of
    // the Σ C(deg, 2) a hub would cost unoriented; that bound is the
    // whole reason this runs on power-law graphs at scale. Published
    // values (node/edge/triangle counts, Σ-wedge clustering
    // coefficient in per-mille) are orientation-invariant, so the
    // oracle certifies with the simpler id-ordered SQL form.
    "q_graph_triangles" -> ((s, d) => {
      // no checkpoint: the layout read is already a stable parquet leaf
      val e = coEdges(s, d)
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val ed = orientByDegree(e, deg)
      val tri = ed.as("e1")
        .join(ed.as("e2"), col("e1.dst") === col("e2.src"))
        .join(ed.as("e3"),
          col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"),
          "leftsemi")
        .agg(count(lit(1)).as("n_triangles"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg) div 2").as("n_edges"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      stats.crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          expr("3 * n_triangles * 1000 div n_wedges").as("cc_pm"))
    }),

    // LINK PREDICTION by common-neighbor Jaccard (Liben-Nowell &
    // Kleinberg 2003) over the co-purchase graph: for non-adjacent
    // part pairs sharing ≥ 3 neighbors, score = |Γa∩Γb| / |Γa∪Γb| —
    // the classic recommender baseline ("parts bought alongside the
    // same partners will co-occur next"). Shape: common-neighbor
    // candidates come from the adj⋈adj wedge join on the shared
    // neighbor, with the shared-neighbor (witness) list CAPPED at
    // k = 64 members: unbounded, one power-law hub of degree d emits
    // C(d,2) candidate pairs — quadratic in the hub degree, the exact
    // trap the triangle counter's orientation avoids. Common-neighbor
    // scoring can't orient (both wedge endpoints are outputs), so the
    // production bound is the inverted-list cap (the
    // q_dedup_ngram_jaccard DF-cap precedent): each witness
    // contributes only its k smallest-id members, bounding per-witness
    // fan-out at C(k,2) — a DOCUMENTED RECALL TRADE (pairs whose only
    // common neighbors are capped-out hub tails are missed; hubs are
    // the least informative witnesses, the same reason tf-idf
    // down-weights them). The cap is deterministic (smallest ids) and
    // mirrored exactly in the oracle, so both engines agree at every
    // scale; at this corpus's max degree (62 < k) it is a no-op and
    // the uncapped brute-force replay still certifies. Degrees for
    // the Jaccard denominator stay UNCAPPED (true |Γ|). Existing
    // edges drop via a thin LEFT ANTI on 8-byte pairs; per-mille
    // integer scores, distributed top-50 via TakeOrderedAndProject.
    // the `Tools scale` skewed-hub fixture measures the bound. Fully
    // oracled.
    "q_graph_linkpred" -> ((s, d) => {
      val e = coEdges(s, d)
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val cn = wedgeCandidates(adj, LinkpredWitnessCap)
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 3)
        .join(e, Seq("a", "b"), "leftanti")
      cn.join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"), col("cn"),
          expr("cn * 1000 div (da + db - cn)").as("jac_pm"))
        .orderBy(col("jac_pm").desc, col("cn").desc, col("a"), col("b"))
        .limit(50)
    }),

    // Degree DISTRIBUTION of the co-purchase graph in log2 bins —
    // the observability readout behind every scale decision this
    // file's operators make (is the graph power-law? where do hubs
    // start? what does the orientation bound buy?). The log2 bin is
    // INTEGER arithmetic — length(bin(deg)) − 1, no libm — so both
    // engines bin identically. One thin degree aggregate + one
    // bounded (≤64 bins) aggregate; per-mille shares off a broadcast
    // total. Fully oracled.
    "q_graph_degree_dist" -> ((s, d) => {
      val e = coEdges(s, d)
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val bins = deg
        .select(expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("deg_bin"),
          col("deg"))
        .groupBy(col("deg_bin"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sum_deg"))
      val tot = bins.agg(sum(col("n_nodes")).as("n_total"))
      bins.crossJoin(broadcast(tot))
        .select(col("deg_bin"),
          expr("shiftleft(1L, CAST(deg_bin AS INT))").as("deg_lo"),
          col("n_nodes"), col("sum_deg"),
          expr("n_nodes * 1000 div n_total").as("share_pm"))
        .orderBy(col("deg_bin"))
    }),

    // HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    // supplier→customer order graph — PageRank's bipartite sibling:
    // a good hub (supplier) ships to many good authorities
    // (customers) and vice versa. Mutual recursion a = Eᵀh, h = Ea
    // with L1 normalization each half-step (sum-normalization keeps
    // the arithmetic to one broadcast scalar divide; the ranking is
    // the same as the classical L2 form). Same per-iteration shuffle
    // profile as PageRank: one equi-join of the thin edge list
    // against the score table + one map-combined sum, bounded
    // iterations, lineage checkpointed. Fully oracled (round 12) via
    // the same CTE unrolling as PageRank — the deferred-normalization
    // form is linear, so the oracle defers identically and the final
    // scalar divide + 9-decimal rounding absorbs summation-order
    // noise; GraphSpec additionally replays the iterate to 1e-9.
    "q_graph_hits" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // the directed (hub, auth) edge set IS the written pair layout.
      // TWO pre-partitioned checkpointed copies — one hashed on hub,
      // one on auth — because the mutual recursion alternates join
      // keys: with each copy partitioned on ITS key, every half-step
      // streams the edge side exchange-free and only the thin score
      // table shuffles (localCheckpoint preserves partitioning;
      // measured 3.8 → 3.3 s steady / 9.1 → 3.5 s cold at sf0.1).
      // The 2× thin-table memory is the classic CSR/CSC dual a native
      // graph engine keeps for exactly this access pattern.
      val eH = pairsLayout(s, d)
        .select(col("a").as("hub"), col("b").as("auth"))
        .repartition(col("hub"))
        .sortWithinPartitions(col("hub")).localCheckpoint()
      val eA = pairsLayout(s, d)
        .select(col("a").as("hub"), col("b").as("auth"))
        .repartition(col("auth"))
        .sortWithinPartitions(col("auth")).localCheckpoint()
      // normalization DEFERRED to the end: the recursion is linear,
      // so per-step L1 scaling is a scalar factor that cancels in the
      // final normalization — skipping it removes two full
      // materializations per iteration (each per-step total forced
      // the score table to evaluate twice: measured 10.6 → ~2 s at
      // sf0.1). Unnormalized magnitudes grow like (mean-degree²)^k —
      // ~1e50 at web scale, far inside double range.
      var h = eH.select(col("hub")).distinct()
        .select(col("hub"), lit(1.0).as("hs"))
        .localCheckpoint()
      // a is NOT checkpointed inside the loop (round 15): each a feeds
      // exactly one h update, so checkpointing it only added a full
      // materialization of the auth table per iteration — the
      // every-other-round h checkpoint already bounds lineage at ≤ 4
      // join+agg levels. The final a IS checkpointed once because the
      // output reads it twice (aTot + the normalized rows).
      var a: DataFrame = null
      // superseded-iterate lifecycle (§5), DELAYED one checkpoint
      // generation: the final a = Eᵀh(PrIters−1) re-derives through
      // the second-to-last h checkpoint, so that one must stay alive
      // until a materializes — release h(k−2) when h(k) lands, then
      // the stragglers (h(PrIters−2), both edge copies) once a's own
      // checkpoint has consumed them
      var hPrev: DataFrame = null
      var hCkpt = h
      for (it <- 1 to PrIters) {
        a = eH.join(h, "hub").groupBy(col("auth"))
          .agg(sum(col("hs")).as("as_"))
        h = eA.join(a, "auth").groupBy(col("hub"))
          .agg(sum(col("as_")).as("hs"))
        if (it % 2 == 0 || it == PrIters) {
          h = h.localCheckpoint()
          if (hPrev != null) graft.Checkpoints.release(hPrev)
          hPrev = hCkpt
          hCkpt = h
        }
      }
      a = a.localCheckpoint()
      // a is materialized; the final plan scans only h and a
      graft.Checkpoints.release(hPrev, eH, eA)
      val hTot = h.agg(sum(col("hs")).as("tot"))
      val aTot = a.agg(sum(col("as_")).as("tot"))
      val hn = h.crossJoin(broadcast(hTot))
        .select(col("hub"), (col("hs") / col("tot")).as("hs"))
      val an = a.crossJoin(broadcast(aTot))
        .select(col("auth"), (col("as_") / col("tot")).as("as_"))
      val w = Window.orderBy(col("score").desc, col("node"))
      hn.select(col("hub").as("node"), lit("hub").as("role"),
          round(col("hs"), 9).as("score"))
        .unionAll(an.select(col("auth").as("node"), lit("auth").as("role"),
          round(col("as_"), 9).as("score")))
        .orderBy(col("score").desc, col("node")).limit(20)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select(col("rnk"), col("role"), col("node"), col("score"))
        .orderBy(col("rnk"))
    }),

    "q_graph_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // layout + PRE-PARTITIONED checkpoint: the layout kills the
      // per-run derivation (lineitem⋈orders+distinct); hash-
      // partitioning the checkpointed edges on the join key means
      // every iteration's join streams the edge side exchange-free —
      // only the thin rank table shuffles per round (localCheckpoint
      // preserves the partitioning; measured 3.6 → 2.9 s at sf0.1)
      val e = edges(s, d).repartition(col("src"))
        .sortWithinPartitions(col("src")).localCheckpoint()
      val nodes = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).cast("double").as("outdeg"))
      // 1/n and (1-d)/n as COLUMNS off a broadcast 1-row aggregate
      // (the HITS normalization pattern) — no driver-side count(), so
      // the whole query is one dataflow. The divisions are the same
      // IEEE double ops the driver-side form performed, so ranks (and
      // the GraphSpec replay) are bit-identical.
      val nRow = nodes.agg(count(lit(1)).as("n"))
      var ranks = nodes.crossJoin(broadcast(nRow))
        .select(col("node"), col("outdeg"),
          (lit(1.0) / col("n")).as("rank"),
          (lit(1.0 - Damping) / col("n")).as("base"))
        .localCheckpoint()
      // superseded-iterate lifecycle (§5): once checkpoint k is
      // materialized, checkpoint k−1's blocks are dead — release them
      // instead of leaking them to GC-paced ContextCleaner cleanup
      // (r17: dead blocks from ~56 checkpoint sites caused storage-
      // eviction storms late in the shared 308-query session)
      var prevCkpt = ranks
      for (it <- 1 to PrIters) {
        val msgs = e.join(ranks.select(col("node").as("src"),
            (col("rank") / col("outdeg")).as("w")), "src")
          .groupBy(col("dst")).agg(sum(col("w")).as("m"))
        ranks = ranks.select(col("node"), col("outdeg"), col("base"))
          .join(msgs, col("node") === col("dst"), "left")
          .select(col("node"), col("outdeg"), col("base"),
            (col("base") +
              lit(Damping) * coalesce(col("m"), lit(0.0))).as("rank"))
        // checkpoint every OTHER round: a 2-iteration lineage is cheap
        // for Catalyst, and each eager localCheckpoint writes the full
        // rank table to the block store — halving those is strictly
        // less work, though at this scale the per-round join+aggregate
        // dominates wall time (measured ~equal at sf0.1)
        if (it % 2 == 0 || it == PrIters) {
          ranks = ranks.localCheckpoint()
          graft.Checkpoints.release(prevCkpt)
          prevCkpt = ranks
        }
      }
      // the final plan scans only the last rank checkpoint — the
      // pre-partitioned edge table is never read again
      graft.Checkpoints.release(e)
      // rank and order on the 6-decimal rounded value: near-tied nodes
      // differ only in double-sum order noise, so the published
      // ordering keys on the rounded rank (deterministic in any
      // engine), node id as the tiebreak
      val rounded = ranks.select(col("node"),
        round(col("rank"), 6).as("rank"))
      val w = Window.orderBy(col("rank").desc, col("node"))
      rounded.orderBy(col("rank").desc, col("node")).limit(20)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select(col("rnk"), col("node"), col("rank"))
        .orderBy(col("rnk"))
    }),

    // COMMUNITY DETECTION by synchronous label propagation (Raghavan
    // et al. 2007) over the co-purchase graph — the cluster readout
    // the centrality family lacks: PageRank says which nodes matter,
    // communities say which nodes belong TOGETHER (product families
    // here; host clusters in the corpus-quality reading, where a
    // community of interlinked spam hosts is filtered as a unit).
    // The SYNCHRONOUS variant is the dataflow one: every node
    // simultaneously adopts its neighbors' plurality label
    // (count DESC, label ASC on ties — no update order, no RNG, fully
    // deterministic), for a fixed 4 rounds; like PageRank, the
    // operator pins the exact iterate, so the budget is a cost knob.
    // Scale shape: each round is one thin equi-join of the
    // PRE-PARTITIONED checkpointed adjacency against the (node, label)
    // table + one map-combined (node, label) count + one per-node
    // argmax — the PageRank shuffle profile, linear in |E| with
    // bounded rounds. Fully oracled: integer counts and id labels
    // round-trip exactly through 4 unrolled CTEs.
    "q_graph_community" -> ((s, d) => {
      val e = coEdges(s, d)
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("v"))
        .sortWithinPartitions(col("v")).localCheckpoint()
      var labels = adj.select(col("u").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
        .localCheckpoint()
      // superseded-iterate lifecycle (§5) — the pagerank pattern
      var prevCkpt = labels
      for (it <- 1 to CommunityIters) {
        labels = adj.join(labels, "v")
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("label")))
            .as("m"))
          .select(col("u").as("v"), col("m.label").as("label"))
        if (it % 2 == 0 || it == CommunityIters) {
          labels = labels.localCheckpoint()
          graft.Checkpoints.release(prevCkpt)
          prevCkpt = labels
        }
      }
      // the final plan (labels ⋈ sizes) scans only the last checkpoint
      graft.Checkpoints.release(adj)
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"))
      labels.join(sizes, "label")
        .select(col("v"), col("label").as("community"), col("n_members"))
        .orderBy(col("v"))
    })
  )

  /** One unrolled PageRank damping round as SQL — the exact per-node
    * arithmetic the Spark iterate performs (base + d·Σ rank/outdeg
    * over incoming edges, LEFT join so message-less nodes keep base).
    * The ops are the same IEEE doubles in both engines; only cross-row
    * summation order differs (relative ~1e-15 per round), which the
    * published 6-decimal rounding absorbs with ~9 orders of margin. */
  private def prRoundSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.node, n.outdeg, n.base,
       |    n.base + $Damping * coalesce(m.m, 0.0) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst, sum(p.rank / p.outdeg) AS m
       |    FROM edges e JOIN $prev p ON e.src = p.node
       |    GROUP BY e.dst) m ON n.node = m.dst)""".stripMargin

  /** One unrolled HITS mutual-recursion round as SQL: a = Eᵀh then
    * h = Ea, both plain sums over the directed edge list (the Spark
    * iterate's deferred-normalization form). */
  private def hitsRoundSql(prev: String, aOut: String, hOut: String): String =
    s"""$aOut AS (
       |  SELECT e.auth, sum(h.hs) AS as_
       |  FROM edges e JOIN $prev h ON e.hub = h.hub GROUP BY e.auth),
       |$hOut AS (
       |  SELECT e.hub, sum(a.as_) AS hs
       |  FROM edges e JOIN $aOut a ON e.auth = a.auth GROUP BY e.hub)"""
      .stripMargin

  /** One unrolled synchronous-LPA round as SQL: node u adopts the
    * plurality label of its neighbors in `prev` (count DESC, label ASC
    * — the exact Spark tiebreak). */
  private def lpaRoundSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT u AS v, label FROM (
       |    SELECT n.u, n.label, row_number() OVER (
       |      PARTITION BY n.u ORDER BY n.c DESC, n.label) AS rk
       |    FROM (SELECT a.u, l.label, count(*) AS c
       |          FROM adj a JOIN $prev l ON a.v = l.v
       |          GROUP BY a.u, l.label) n) t
       |  WHERE rk = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    // The q_graph_community unrolling technique applied to the FP
    // iterates: a bounded damping loop is plain arithmetic over an
    // equi-join, so PrIters rounds unroll into PrIters CTEs. 1 << 40
    // = 1099511627776 is the CustTag high-bit (kept literal — DuckDB
    // and Spark agree on BIGINT `|`).
    "q_graph_pagerank" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_suppkey AS a,
         |    o_custkey | 1099511627776 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION ALL SELECT b, a FROM pairs),
         |outd AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg
         |         FROM edges GROUP BY src),
         |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM outd),
         |nodes AS (SELECT node, outdeg, 1.0 / n AS rank,
         |            ${1.0 - Damping} / n AS base
         |          FROM outd, nv),
         |r0 AS (SELECT node, outdeg, base, rank FROM nodes),
         |${(1 to PrIters).map(i => prRoundSql(s"r${i - 1}", s"r$i"))
             .mkString(",\n")},
         |top AS (
         |  SELECT node, round(rank, 6) AS rank FROM r$PrIters
         |  ORDER BY round(rank, 6) DESC, node LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY rank DESC, node)
         |    AS BIGINT) AS rnk,
         |  node, rank
         |FROM top ORDER BY rnk""".stripMargin,
    "q_graph_hits" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_suppkey AS a,
         |    o_custkey | 1099511627776 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT a AS hub, b AS auth FROM pairs),
         |h0 AS (SELECT DISTINCT hub, 1.0 AS hs FROM edges),
         |${(1 to PrIters).map(i =>
             hitsRoundSql(s"h${i - 1}", s"a$i", s"h$i")).mkString(",\n")},
         |htot AS (SELECT sum(hs) AS tot FROM h$PrIters),
         |atot AS (SELECT sum(as_) AS tot FROM a$PrIters),
         |scored AS (
         |  SELECT h.hub AS node, 'hub' AS role,
         |    round(h.hs / t.tot, 9) AS score
         |  FROM h$PrIters h, htot t
         |  UNION ALL
         |  SELECT a.auth, 'auth', round(a.as_ / t.tot, 9)
         |  FROM a$PrIters a, atot t),
         |top AS (SELECT * FROM scored ORDER BY score DESC, node LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, node)
         |    AS BIGINT) AS rnk,
         |  role, node, score
         |FROM top ORDER BY rnk""".stripMargin,
    "q_graph_community" ->
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderpriority = '1-URGENT'),
         |e AS (
         |  SELECT DISTINCT x.pk AS a, y.pk AS b
         |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |l0 AS (SELECT DISTINCT u AS v, u AS label FROM adj),
         |${(1 to CommunityIters).map(i => lpaRoundSql(s"l${i - 1}", s"l$i"))
             .mkString(",\n")},
         |sizes AS (SELECT label, count(*) AS n_members
         |          FROM l$CommunityIters GROUP BY label)
         |SELECT l.v, CAST(l.label AS BIGINT) AS community,
         |  CAST(s.n_members AS BIGINT) AS n_members
         |FROM l$CommunityIters l JOIN sizes s ON l.label = s.label
         |ORDER BY v""".stripMargin,
    "q_graph_linkpred" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (
        |  SELECT a AS u, b AS v FROM e
        |  UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
        |adjc AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (PARTITION BY v ORDER BY u)
        |      AS nr FROM adj) c
        |  WHERE nr <= 64),
        |cn AS (
        |  SELECT x.u AS a, y.u AS b, count(*) AS cn
        |  FROM adjc x JOIN adjc y ON x.v = y.v AND x.u < y.u
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |nonedge AS (
        |  SELECT cn.a, cn.b, cn.cn FROM cn
        |  LEFT JOIN e ON cn.a = e.a AND cn.b = e.b
        |  WHERE e.a IS NULL)
        |SELECT n.a, n.b, CAST(n.cn AS BIGINT) AS cn,
        |  CAST(n.cn * 1000 // (da.deg + db.deg - n.cn) AS BIGINT)
        |    AS jac_pm
        |FROM nonedge n
        |JOIN deg da ON n.a = da.u JOIN deg db ON n.b = db.u
        |ORDER BY jac_pm DESC, cn DESC, a, b LIMIT 50""".stripMargin,
    "q_graph_degree_dist" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u
        |  GROUP BY 1),
        |bins AS (
        |  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_bin,
        |    count(*) AS n_nodes, CAST(sum(deg) AS BIGINT) AS sum_deg
        |  FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total FROM bins)
        |SELECT deg_bin, CAST(2 ** deg_bin AS BIGINT) AS deg_lo,
        |  n_nodes, sum_deg, n_nodes * 1000 // n_total AS share_pm
        |FROM bins, tot ORDER BY deg_bin""".stripMargin,
    // Orientation-invariant outputs let the oracle use the simpler
    // id-ordered (a < b < c) triangle form — same counts, no degree
    // table needed for the count itself.
    "q_graph_triangles" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u
        |  GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |st AS (
        |  SELECT count(*) AS n_nodes,
        |    CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT n_nodes, n_edges, n_triangles,
        |  CAST(3 * n_triangles * 1000 // n_wedges AS BIGINT) AS cc_pm
        |FROM st, tri""".stripMargin
  )
}
