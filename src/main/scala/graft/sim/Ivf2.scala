package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** TWO-LEVEL IVF quantizer — the composition the single-level scale
  * law documents as its own ceiling (Similarity.IvfMaxFlatK): a flat
  * quantizer's k tracks ⌈n/128⌉, but k-means stops being trainable
  * past ~2¹⁶ centroids (the fit sample alone would be 2²³ rows and
  * the assignment pass compares every vector to every centroid). The
  * standard continuation — faiss's IVF_HNSW/IVF×IVF coarse
  * composition — keeps BOTH levels small: level 1 is the existing
  * written `ivf_index` (its cells bounded at ~128 members only while
  * n ≤ 2²³; past that, cells grow), and level 2 trains one small
  * sub-quantizer PER level-1 cell on that cell's members, restoring
  * the ~128-member occupancy invariant with total cell count
  * k₁ × k₂ — past the flat ceiling without either fit exceeding it.
  *
  * Scale shape (mirrors reference src/hashtable.rs:90-133's
  * create/open contract — build once, re-attach forever):
  *  - the per-cell fits run INSIDE executors (`flatMapGroups`), one
  *    bounded Lloyd per cell in parallel — no driver loop, no ML-lib
  *    fit-per-cell sequencing; the fit input per cell is rate-sampled
  *    then hard-capped at kf·IvfFitPerCell rows, so total fit work is
  *    Θ(total cells), never Θ(corpus);
  *  - assignment is one broadcast of the (cell → fine centroids)
  *    table joined on the EXISTING cell id: zero fan-out, zero extra
  *    shuffle — each row computes its argmin inline and lands in its
  *    (cell, fine) partition directory;
  *  - probes prune BOTH partition levels: IvfNProbe coarse cells ×
  *    FineNProbe fine cells each, so bytes read per query shrink by
  *    another ~kf/FineNProbe over single-level IVF.
  *
  * Rows-only by contract (k-means lineage); Ivf2Spec pins the fine
  * assignment to a plain-Scala argmin replay, the kf occupancy law,
  * and recall vs brute force; `Tools scale` measures candidate volume.
  */
object Ivf2 {

  /** Same occupancy law as level 1: fine cells target ~128 members. */
  val FineCellTarget = 128
  val FineFloor = 2
  /** Fine cells searched per probed coarse cell. At test SFs kf sits
    * at the floor (2), so probing 2 reads every fine cell and recall
    * is exactly single-level IVF's; at scale kf grows with cell
    * population and the 2-of-kf probe is where the extra pruning
    * comes from.
    */
  val FineNProbe = 2

  private[graft] def kfFor(cellCount: Long): Int =
    math.max(FineFloor,
      ((cellCount + FineCellTarget - 1) / FineCellTarget).toInt)

  /** Deterministic bounded Lloyd iterations over one cell's sample —
    * runs inside an executor task; input is already capped at
    * kf·IvfFitPerCell points. Init = evenly spaced points of the
    * hash-ordered sample (stable across runs); empty clusters keep
    * their previous centroid (standard Lloyd degenerate-case rule).
    */
  private[graft] def lloyd(pts: Array[Array[Double]], k: Int,
      iters: Int = 5): Array[Array[Double]] = {
    val n = pts.length
    val dim = pts(0).length
    val kk = math.max(1, math.min(k, n))
    var cents = Array.tabulate(kk)(i => pts(((i.toLong * n) / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val p = pts(i)
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d2 = 0.0
          var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); d2 += t * t; j += 1 }
          if (d2 < bd) { bd = d2; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (cnts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / cnts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Per-cell fine centroids as a WRITTEN layout: (cell, fine,
    * fcentroid). Fit input per cell: a hash-rate prefilter keeps
    * ~2× the cap in expectation (so the later per-cell sort touches
    * a bounded row count even when cells are huge), then a window
    * row_number caps it exactly; `flatMapGroups` runs one Lloyd per
    * cell in parallel across executors.
    */
  private[graft] def fineCentroids(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "ivf2_centroids") {
      fineCentroidsFor(s, d, FineCellTarget)
    }

  /** The fine-quantizer fit at an explicit occupancy target — the
    * layout build uses FineCellTarget; `Tools scale` calls with a small
    * target to measure the ADAPTIVE regime (kf off its floor) at SFs
    * where the canonical target leaves kf floored.
    */
  private[graft] def fineCentroidsFor(s: SparkSession, d: String,
      target: Int): DataFrame =
    fineCentroidsOf(s, Similarity.ivfIndex(s, d), target)

  /** The same fit over ANY (vec_id, embedding, cell) table — exposed
    * so the partitioning-invariance spec can feed a repartitioned
    * copy of the index and assert identical centroids.
    */
  private[graft] def fineCentroidsOf(s: SparkSession, idx: DataFrame,
      target: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val counts = idx.groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
      val wc = Window.partitionBy(col("cell"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      val sample = idx.join(broadcast(counts), "cell")
        .withColumn("kf", greatest(lit(FineFloor),
          ceil(col("n_c").cast("double") / target)).cast("int"))
        .withColumn("cap", col("kf") * Similarity.IvfFitPerCell)
        // expectation 2·cap kept per cell; an under-sampled tail cell
        // still fits (Lloyd clamps k to its point count)
        .withColumn("keep_ppm", least(lit(1000000L),
          lit(2L) * col("cap") * 1000000L / col("n_c")))
        .filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(1000000L))
          < col("keep_ppm"))
        .withColumn("rn", row_number().over(wc))
        .filter(col("rn") <= col("cap"))
      sample
        // rn is the per-cell rank under the (xxhash64, vec_id) total
        // order; sorting the group on it before the fit makes the
        // Lloyd input order — and so its seeded init and FP fold —
        // independent of how the shuffle happened to deliver rows
        // (partitioning-invariance, pinned by KmeansInvarianceSpec)
        .select(col("cell"), col("kf"), col("rn"),
          col("embedding").cast("array<double>").as("e"))
        .as[(Int, Int, Int, Array[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (cell, rows0) =>
          val rows = rows0.toArray.sortBy(_._3)
          val cents = lloyd(rows.map(_._4), rows.head._2)
          cents.iterator.zipWithIndex.map { case (cv, i) => (cell, i, cv) }
        }
        .toDF("cell", "fine", "fcentroid")
    }

  /** `Tools scale` readout: the LARGEST (cell, fine) stratum under a
    * given occupancy target — assignment computed live from the
    * probe-target fit (no layout write). Measures the adaptive-regime
    * occupancy bound the two-level sampler's windows rely on.
    */
  private[graft] def fineMaxStratumFor(s: SparkSession, d: String,
      target: Int): Long = {
    val fcs = fineCentroidsFor(s, d, target)
      .groupBy(col("cell"))
      .agg(expr("sort_array(collect_list(struct(fine, fcentroid)))")
        .as("fcs"))
    Similarity.ivfIndex(s, d)
      .join(broadcast(fcs), "cell")
      .withColumn("best", expr(
        """array_min(transform(fcs, f -> struct(
          |  aggregate(zip_with(embedding, f.fcentroid,
          |    (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
          |    cast(0.0 as double), (acc, x) -> acc + x) AS d2,
          |  f.fine AS fine)))""".stripMargin))
      .groupBy(col("cell"), col("best.fine"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
  }

  /** The two-level index layout: the corpus partitioned by
    * (cell, fine). Assignment broadcasts the per-cell centroid lists
    * and computes each row's argmin inline — struct array_min gives
    * the deterministic (d2, fine) tiebreak; no fan-out, no shuffle
    * beyond the layout write itself.
    */
  private[graft] def ivf2Index(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "ivf2_index",
        partitionCols = Seq("cell", "fine")) {
      val fcs = fineCentroids(s, d)
        .groupBy(col("cell"))
        .agg(expr("sort_array(collect_list(struct(fine, fcentroid)))")
          .as("fcs"))
      Similarity.ivfIndex(s, d)
        .join(broadcast(fcs), "cell")
        .withColumn("best", expr(
          """array_min(transform(fcs, f -> struct(
            |  aggregate(zip_with(embedding, f.fcentroid,
            |    (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
            |    cast(0.0 as double), (acc, x) -> acc + x) AS d2,
            |  f.fine AS fine)))""".stripMargin))
        .select(col("vec_id"), col("embedding"), col("cell"),
          col("best.fine").as("fine"))
        // one file per (cell, fine) stratum — see Similarity.ivfIndex
        .repartition(col("cell"), col("fine"))
    }

  /** Probe set over both levels: the coarse probes (IvfNProbe cells,
    * shared with single-level IVF) each rank their cell's fine
    * centroids by L2 and keep FineNProbe — |batch|·nprobe·kf thin
    * rows, broadcast onward.
    */
  private[graft] def ivf2Probes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy(col("qid"), col("cell"))
      .orderBy(col("fd2"), col("fine"))
    Similarity.ivfProbes(s, d)
      .join(broadcast(fineCentroids(s, d)), "cell")
      .withColumn("fd2", expr(
        """aggregate(zip_with(qv, fcentroid,
          |  (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
          |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin))
      .withColumn("fr", row_number().over(wf))
      .filter(col("fr") <= FineNProbe)
      .select(col("qid"), col("qv"), col("cell"), col("fine"))
  }

  /** Probed candidate (qid, nid) pairs before scoring — exposed for
    * the `Tools scale` candidate-volume measurement.
    */
  private[graft] def ivf2Candidates(s: SparkSession, d: String): DataFrame =
    broadcast(ivf2Probes(s, d).select(col("qid"), col("cell"), col("fine")))
      .join(ivf2Index(s, d).select(col("vec_id"), col("cell"), col("fine")),
        Seq("cell", "fine"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-level IVF ANN: probe IvfNProbe coarse × FineNProbe fine
    // partitions, exact cosine on the survivors, top-5 per query —
    // same published shape as q_sim_ann_ivf so the recall pins
    // compare directly. Both partition levels prune the scan.
    "q_sim_ann_ivf2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      VectorFunctions.register(s)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("nid"))
      broadcast(ivf2Probes(s, d))
        .join(ivf2Index(s, d), Seq("cell", "fine"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          VectorFunctions.cosineSim(s, "qv", "embedding").as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"),
          round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("qid"), col("rk"))
    }),

    // SEMANTIC-DIVERSITY sampling over the TWO-LEVEL strata —
    // q_diversity_sample's past-the-ceiling twin: the flat form's
    // "~128 members per stratum" occupancy law only holds while the
    // flat quantizer stays trainable (k ≤ 2¹⁶ ⇒ n ≤ 2²³); past it,
    // flat cells grow linearly and the per-cell rank window with
    // them. Stratifying over the written (cell, fine) partition
    // restores the invariant at ANY corpus size: fine cells re-target
    // ~128 members by construction, so no window partition ever
    // grows. Same √-allocation (floored at one pick per stratum) and
    // deterministic content-hash picks as the flat form. The
    // allocation table is ~n/128 rows at scale — NOT broadcast; the
    // join keys on (cell, fine), the same partitioning the rank
    // window just established, so Catalyst reuses the exchange (at
    // test scale AQE broadcasts it on measured size — both plans are
    // one thin-row pipeline). Rows-only (k-means lineage);
    // DiversitySampleSpec replays the two-level allocation and pins
    // the picks to the hash ranking.
    "q_diversity_sample2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val idx = ivf2Index(s, d)
        .select(col("vec_id"), col("cell"), col("fine"))
      val sizes = idx.groupBy(col("cell"), col("fine"))
        .agg(count(lit(1)).as("n_c"))
        .withColumn("sq_u",
          floor(sqrt(col("n_c").cast("double")) * 1000000).cast("long"))
      val tot = sizes.agg(sum(col("sq_u")).as("sq_tot"))
      val alloc = sizes.crossJoin(broadcast(tot))
        .select(col("cell"), col("fine"), col("n_c"),
          greatest(lit(1L),
            expr(s"${Similarity.DiversityBudget} * sq_u div sq_tot"))
            .as("a_c"))
      val w = Window.partitionBy(col("cell"), col("fine"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      idx.withColumn("rk", row_number().over(w).cast("long"))
        .join(alloc, Seq("cell", "fine"))
        .filter(col("rk") <= col("a_c"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("fine").cast("long").as("fine"), col("rk"), col("a_c"))
        .orderBy(col("vec_id"))
    })
  )

  val oracle: Map[String, String] = Map.empty
}
