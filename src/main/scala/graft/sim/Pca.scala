package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession, TypedColumn}
import org.apache.spark.sql.functions._
import graft.Tables

/** Principal-component analysis over the embedding corpus — the
  * DATA-DEPENDENT dimensionality reduction beside q_embed_project's
  * data-oblivious Johnson-Lindenstrauss planes: PCA's top-k basis
  * maximizes retained variance among ALL rank-k linear projections, so
  * it is what a pipeline fits when it can afford one pass over the
  * corpus (OPQ's rotation, whitening before IVF, Matryoshka-style
  * truncation all start here).
  *
  * Scale shape (the part that matters at 100 TB): the fit is ONE
  * corpus pass through a typed Aggregator whose buffer is constant
  * size (~17 KB: upper triangle of Σxxᵀ + Σx + n, see
  * [[graft.functions.GramAggregator]]) — map-side combined, one buffer
  * per partition through the shuffle, never a row of data to the
  * driver beyond that single 2145-double result (the same bounded
  * 1-row collect class as the Bpe merge argmax). The eigensolve is
  * driver-side cyclic Jacobi on the CONSTANT 64×64 covariance — O(64³)
  * regardless of corpus size — and the basis persists as a write-once
  * layout (`pca_basis`), so the corpus pass runs once per corpus, not
  * per query. Projection is pure per-row map work over broadcast
  * literal planes: zero shuffle at any scale.
  *
  * Determinism: float products are exact in double; only the cross-row
  * accumulation order varies, so covariance entries are ROUNDED to 6
  * decimals before the eigensolve (the q_embed_centroid interchange
  * rule) and the written basis is itself rounded. Same-run determinism
  * is what PcaSpec pins; across DIFFERENT partitionings the rounding
  * makes the input covariance agree unless an entry's accumulation
  * lands exactly on a rounding boundary — and near-degenerate
  * eigenvalue pairs (likely in a random corpus's bulk spectrum) can
  * amplify even a one-ulp covariance step into visible eigenVECTOR
  * rotation, so cross-partitioning stability of the full basis is
  * expected in practice but not guaranteed; the layout being
  * write-once is what makes downstream results reproducible.
  * Rows-only (an eigensolve is not ANSI-SQL-expressible); PcaSpec
  * pins orthonormality, the eigen equation C·v = λ·v, descending
  * eigenvalues, trace preservation, and that each published
  * component's corpus variance matches its eigenvalue.
  */
object Pca {

  private val Dim = 64
  /** components the projection publishes (the JL twin projects 16;
    * top-8 PCA retains more variance than any 8 random planes). */
  private val PcaK = 8

  /** Cyclic Jacobi eigensolve for a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows), sorted by eigenvalue
    * descending, each vector sign-canonicalized (largest-|component|
    * entry positive). Deterministic for a given input matrix: fixed
    * sweep order, fixed convergence test, no randomness.
    */
  private[graft] def jacobiEigen(c: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = c.length
    val a = c.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-18) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cos * akp - sin * akq
              a(k)(q) = sin * akp + cos * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cos * apk - sin * aqk
              a(q)(k) = sin * apk + cos * aqk
              val vkp = v(p)(k); val vkq = v(q)(k)
              v(p)(k) = cos * vkp - sin * vkq
              v(q)(k) = sin * vkp + cos * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { off += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val row = v(i)
      // sign canonicalization: the largest-magnitude entry (first on
      // ties) points positive, so ±v ambiguity never leaks downstream
      var best = 0
      var j = 1
      while (j < n) {
        if (math.abs(row(j)) > math.abs(row(best)) + 1e-12) best = j
        j += 1
      }
      if (row(best) < 0) row.map(x => -x) else row.clone()
    }.toArray
    (evals, evecs)
  }

  /** Covariance matrix from the one-pass moment aggregate, entries
    * rounded to 6 decimals (interchange discipline — see class doc).
    */
  private[graft] def covarianceOf(flat: Array[Double]): Array[Array[Double]] = {
    val tri = Dim * (Dim + 1) / 2
    val n = flat(tri + Dim)
    val mu = Array.tabulate(Dim)(i => flat(tri + i) / n)
    val c = Array.ofDim[Double](Dim, Dim)
    var i = 0
    var k = 0
    while (i < Dim) {
      var j = i
      while (j < Dim) {
        val cij = math.rint((flat(k) / n - mu(i) * mu(j)) * 1e6) / 1e6
        c(i)(j) = cij; c(j)(i) = cij
        k += 1; j += 1
      }
      i += 1
    }
    c
  }

  /** The write-once basis layout: one row per component —
    * (component, eigenvalue, mu_dot = μ·v, the 64 basis loadings) —
    * everything projection needs (pc_k(x) = x·v_k − μ·v_k) without
    * re-reading the corpus. All values rounded to 6 decimals.
    */
  /** The single-pass moment aggregate (exposed for `Tools scale`: its
    * wall should grow ~linearly in corpus size while its output stays
    * a constant 2145 doubles). */
  private[graft] def momentPass(s: SparkSession, d: String): Array[Double] = {
    import s.implicits._
    val agg = new graft.functions.GramAggregator(Dim).toColumn
    Tables.embeddings(s, d)
      .select(col("embedding")).as[Array[Float]]
      .select(agg.name("g")
        .asInstanceOf[TypedColumn[Array[Float], Array[Double]]])
      .head()
  }

  private[graft] def pcaBasis(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "pca_basis") {
      val flat = momentPass(s, d)
      val tri = Dim * (Dim + 1) / 2
      val n = flat(tri + Dim)
      val mu = Array.tabulate(Dim)(i => flat(tri + i) / n)
      val (evals, evecs) = jacobiEigen(covarianceOf(flat))
      def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
      val rows = (0 until Dim).map { k =>
        val vk = evecs(k)
        val muDot = (0 until Dim).map(i => mu(i) * vk(i)).sum
        (k.toLong, r6(evals(k)), r6(muDot), vk.map(r6).toSeq)
      }
      s.createDataFrame(rows).toDF("component", "eigenvalue", "mu_dot", "basis")
    }

  /** One component's mean-centered projection pc_k(x) = x·v_k − μ·v_k
    * as a TYPED-LITERAL column over a basis row (component, eigenvalue,
    * mu_dot, basis): `lit(double)` embeds the exact IEEE values in the
    * plan — no string repr, no lexer anywhere in the path. The fold is
    * the same zip_with/aggregate the SQL form compiled to, so the
    * arithmetic (and PcaSpec's pins) are unchanged.
    */
  private def projection(r: org.apache.spark.sql.Row): Column = {
    val muDot = r.getDouble(2)
    val loadArr = array(r.getSeq[Double](3).map(lit): _*)
    aggregate(
      zip_with(col("embedding"), loadArr,
        (x, y) => x.cast("double") * y),
      lit(0.0), (acc, z) => acc + z) - lit(muDot)
  }

  /** bounded query batch for the projection eval (the q_embed_mrl_eval
    * / q_sim_topk batch discipline: queries broadcast, corpus streams). */
  private val EvalQueries = 8L

  /** SQL cosine between two array&lt;double&gt; columns — the MRL-eval
    * fold, shared by both eval legs. */
  private def cosSql(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> x * y),
       |  cast(0.0 as double), (acc, x) -> acc + x)
       |/ sqrt(aggregate($a, cast(0.0 as double), (acc, x) -> acc + x * x)
       |  * aggregate($b, cast(0.0 as double), (acc, x) -> acc + x * x))"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Mean-centered top-8 PCA projection of every corpus vector,
    // published exploded to (vec_id, pos, val) scalar rows rounded to
    // 6 decimals (the q_embed_project interchange shape — array cells
    // crash the driver compare). The basis reads from the write-once
    // layout; the per-component dot is a bounded zip_with/aggregate
    // fold over broadcast literal loadings — WholeStageCodegen map
    // work, no shuffle before the sink sort.
    "q_embed_pca" -> ((s, d) => {
      val basis = pcaBasis(s, d)
        .filter(col("component") < PcaK)
        .orderBy(col("component"))
        .collect()
      val pcs = basis.map { r =>
        val k = r.getLong(0)
        // typed literal columns (round-12 verdict item 7): lit(double)
        // embeds the exact IEEE value in the plan — no string repr,
        // no lexer in the path
        (k, projection(r))
      }.map { case (k, c) => round(c, 6).as(s"pc$k") }
      Tables.embeddings(s, d)
        .select(col("vec_id") +: pcs.toSeq: _*)
        .select(col("vec_id"), posexplode(array(
          (0 until PcaK).map(k => col(s"pc$k")): _*)).as(Seq("pos", "val")))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // THE SERVING QUESTION the two 16-dim projections pose: which one
    // should an index store — data-DEPENDENT PCA-16 (this module's
    // basis) or data-OBLIVIOUS JL-16 (q_embed_project's seeded
    // planes)? Both cost identical bytes (4× less than full width);
    // this eval prices the quality side: exact cosine top-5 in each
    // projected space, scored by recall against the full-64-dim
    // reference ranking — the q_embed_mrl_eval protocol with the
    // dimension axis swapped for the projection-family axis. One
    // broadcast query-batch pass builds all three rankings (a
    // projection fan-out of the same pairs, not three corpus scans);
    // outputs are pure integers (hit counts, per-mille recall).
    // Rows-only (the PCA basis is not SQL-derivable); PcaEvalSpec
    // replays both legs exactly in plain Scala from the written basis
    // and the shared plane pool.
    "q_embed_pca_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.VectorFunctions.register(s)
      val basis = pcaBasis(s, d)
        .filter(col("component") < 16)
        .orderBy(col("component"))
        .collect()
      val pcaArr = array(basis.map(projection): _*)
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("full"),
        pcaArr.as("pca"),
        expr("plane_project(embedding, 16)").as("jl"))
      val q = e.filter(col("vec_id") < EvalQueries)
        .select(col("vec_id").as("qid"), col("full").as("qfull"),
          col("pca").as("qpca"), col("jl").as("qjl"))
      val pairs = broadcast(q).join(e, col("vec_id") =!= col("qid"))
      val ranked = Seq(("full64", "qfull", "full"),
        ("pca16", "qpca", "pca"), ("jl16", "qjl", "jl")).map {
        case (m, qa, ca) =>
          pairs.select(lit(m).as("method"), col("qid"),
            col("vec_id").as("nid"), expr(cosSql(qa, ca)).as("cos"))
      }.reduce(_ unionAll _)
      val w = Window.partitionBy(col("method"), col("qid"))
        .orderBy(round(col("cos"), 9).desc, col("nid"))
      val top = ranked.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("method"), col("qid"), col("nid"))
        .localCheckpoint()
      val ref = top.filter(col("method") === "full64")
        .select(col("qid"), col("nid"))
      val hits = top.filter(col("method") =!= "full64")
        .join(broadcast(ref), Seq("qid", "nid"), "leftsemi")
        .groupBy(col("method")).agg(count(lit(1)).as("h"))
      // both methods ALWAYS publish (ADVICE round 11): a projection
      // with zero reference hits reports n_hits = 0 instead of
      // silently vanishing — the output row-set is schema-fixed, not
      // data-dependent
      s.range(1).select(explode(array(lit("jl16"), lit("pca16")))
          .as("method"))
        .join(hits, Seq("method"), "left")
        .select(col("method"),
          coalesce(col("h"), lit(0L)).as("n_hits"))
        .select(col("method"), col("n_hits"),
          expr(s"n_hits * 1000 div (5 * $EvalQueries)").as("recall_pm"))
        .orderBy(col("method"))
    })
  )

  val oracle: Map[String, String] = Map.empty
}
