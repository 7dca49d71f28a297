package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Exact replays and invariants for the OLAP batch (skyline, interval
  * join, navigation windows, rolling median, mergeable moments, bitmap
  * distinct, gap interpolation) on sf0.001.
  */
class OlapSpec extends SparkSpec {

  test("q_skyline keeps exactly the undominated points (brute-force replay)") {
    val pts = Tables.part(spark, sf)
      .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDouble(0), r.getInt(1), r.getLong(2)))
    def dominated(p: (Double, Int, Long)) = pts.exists(q =>
      q._1 <= p._1 && q._2 >= p._2 && (q._1 < p._1 || q._2 > p._2))
    val expect = pts.filterNot(dominated).map(p => (p._1, p._2)).toSet
    val got = run("q_skyline").collect()
      .map(r => (r.getDouble(0), r.getInt(1))).toSet
    assert(got == expect)
    // frontier is strictly increasing in size as price rises
    val sorted = run("q_skyline").collect()
      .map(r => (r.getDouble(0), r.getInt(1))).sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a._1 < b._1 && a._2 < b._2
      case _           => true
    })
  }

  test("q_interval_join equals the quadratic overlap join (replay)") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("dt"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val a = orders.filter(_._1 % 199 == 0).map { case (k, s) => (k, s, s.plusDays(3)) }
    val b = orders.filter(_._1 % 211 == 0).map { case (k, s) => (k, s, s.plusDays(5)) }
    val expect = (for {
      (ak, as_, ae) <- a; (bk, bs, be) <- b
      if !as_.isAfter(be) && !bs.isAfter(ae)
    } yield (ak, bk,
      java.time.temporal.ChronoUnit.DAYS.between(
        Seq(as_, bs).max[java.time.LocalDate](Ordering.by(_.toEpochDay)),
        Seq(ae, be).min[java.time.LocalDate](Ordering.by(_.toEpochDay))) + 1)).toSet
    val got = run("q_interval_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("q_window_ntile quartiles are balanced and navigation is frame-correct") {
    val rows = run("q_window_ntile").collect()
    val byPrio = rows.groupBy(_.getString(0))
    byPrio.foreach { case (_, rs) =>
      val sizes = rs.groupBy(_.getAs[Long]("quartile")).view.mapValues(_.size).values
      assert(sizes.max - sizes.min <= 1) // ntile balance
      val ordered = rs.sortBy(r => (-r.getAs[Double]("o_totalprice"),
        r.getAs[Long]("o_orderkey")))
      // third_price is null for the first two rows, then the 3rd price
      assert(ordered.take(2).forall(_.isNullAt(ordered.head.fieldIndex("third_price"))))
      if (ordered.length >= 3) {
        val third = ordered(2).getAs[Double]("o_totalprice")
        assert(ordered.drop(2).forall(_.getAs[Double]("third_price") == third))
      }
      // top_price is the partition max on every row
      val top = ordered.head.getAs[Double]("o_totalprice")
      assert(ordered.forall(_.getAs[Double]("top_price") == top))
      // last_npx carries the last non-null price forward
      var seen: Option[Double] = None
      ordered.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("npx"))) seen = Some(r.getAs[Double]("npx"))
        val got = Option(r.getAs[Any]("last_npx")).map(_.asInstanceOf[Double])
        assert(got == seen)
      }
    }
  }

  test("q_rolling_median matches a direct per-user replay") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val got = run("q_rolling_median").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    ev.groupBy(_._1).foreach { case (_, rs) =>
      val ordered = rs.sortBy(r => (r._3.getTime, r._2))
      ordered.zipWithIndex.foreach { case ((u, e, _, _), i) =>
        val frame = ordered.slice(math.max(0, i - 24), i + 1).map(_._4).sorted
        val n = frame.length
        val med =
          if (n % 2 == 1) frame(n / 2)
          else frame(n / 2 - 1) + (frame(n / 2) - frame(n / 2 - 1)) * 0.5
        val (gm, glo, ghi) = got((u, e))
        assert(math.abs(gm - med) < 1e-6, s"user $u event $e")
        assert(glo == frame.head && ghi == frame.last)
      }
    }
  }

  test("q_rolling_median lag-array form is bit-identical to the sliding " +
      "percentile/min/max aggregate form it replaced") {
    // The r17 optimization pin: the O(1)-offset formulation must equal
    // the imperative sliding-frame aggregates BIT-FOR-BIT (same
    // interpolation arithmetic, same null skipping), not just within
    // tolerance — the driver hash is exact.
    val old = Tables.events(spark, sf).selectExpr(
      "user_id", "event_id", "value",
      "round(percentile(value, 0.5D) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6) AS med25",
      "min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS lo25",
      "max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS hi25")
      .orderBy(col("user_id"), col("event_id")).collect()
    val neu = run("q_rolling_median").collect()
    assert(old.length == neu.length)
    old.zip(neu).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("q_moments_merge equals a direct single-pass over lineitem") {
    val direct = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Exact.money(col("l_extendedprice"))).cast("double").as("s1d"),
        sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast("decimal(30,4)")).cast("double").as("s2d"))
      .select(col("flag"), col("n_rows"),
        round(col("s1d") / col("n_rows"), 6).as("mean"),
        round(sqrt((col("s2d") - col("s1d") * col("s1d") / col("n_rows"))
          / (col("n_rows") - 1)), 6).as("std"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val got = run("q_moments_merge").collect()
    assert(got.length == direct.size + 1) // + the (all) row
    got.filter(_.getString(0) != "(all)").foreach { r =>
      val (n, m, s) = direct(r.getString(0))
      // bit-identical: decimal partial merge == direct decimal sum
      assert(r.getLong(1) == n && r.getDouble(2) == m && r.getDouble(3) == s)
    }
    val all = got.find(_.getString(0) == "(all)").get
    assert(all.getLong(1) == direct.values.map(_._1).sum)
  }

  test("q_bitmap_distinct equals count(DISTINCT) per year") {
    val expect = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val got = run("q_bitmap_distinct").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("q_gap_interp observed buckets pass through; gaps blend linearly") {
    val rows = run("q_gap_interp").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 600000,
        r.getString(2), r.getLong(3)))
    assert(rows.exists(_._3 == "interp") && rows.exists(_._3 == "obs"))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_._2)
      // spine is contiguous 10-minute buckets
      assert(ordered.sliding(2).forall {
        case Array(a, b) => b._2 == a._2 + 1
        case _           => true
      })
      // first and last buckets are observed (spine spans min..max)
      assert(ordered.head._3 == "obs" && ordered.last._3 == "obs")
      val obs = ordered.filter(_._3 == "obs").map(r => (r._2, r._4))
      ordered.filter(_._3 == "interp").foreach { case (_, idx, _, v) =>
        val (pi, pv) = obs.filter(_._1 < idx).last
        val (ni, nv) = obs.find(_._1 > idx).get
        assert(v == (pv * (ni - idx) + nv * (idx - pi)) / (ni - pi))
      }
    }
  }
}

/** Triangle counting: golden sf0.001 values + an id-orientation replay
  * proving the published counts are orientation-invariant.
  */
class TrianglesSpec extends SparkSpec {
  test("q_graph_triangles matches an id-ordered brute replay") {
    val edges = graft.operators.Graph.coEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // id orientation: a < b already canonical; count a<b<c closures
    val tri = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(b, Set.empty[(Long, Long)].map(_._2))
        .count(c => edges.contains((a, c)))
    }.sum
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val got = run("q_graph_triangles").collect().head
    assert(got.getLong(0) == nodes.size)
    assert(got.getLong(1) == edges.size)
    assert(got.getLong(2) == tri)
    assert(got.getLong(3) == 3L * tri * 1000 / wedges)
  }
}

/** Gopher rules + DSIR weights: rule replay on raw text and the
  * domain-separation property the importance weight exists to create.
  */
class QualityOpsSpec extends SparkSpec {
  test("q_quality_gopher replays the rule arithmetic on raw text") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val stops = graft.functions.GraftText.Stopwords.toSet
    val rows = run("q_quality_gopher").collect()
    assert(rows.length == texts.size)
    // non-degenerate split
    assert(rows.exists(_.getAs[Boolean]("keep")) &&
      rows.exists(!_.getAs[Boolean]("keep")))
    rows.take(50).foreach { r =>
      val t = texts(r.getLong(0))
      val words = t.split(" ", -1)
      val lines = t.split("\n", -1)
      assert(r.getAs[Long]("n_words") == words.length)
      assert(r.getAs[Long]("mean_wlen_cpm") ==
        words.map(_.length).sum * 100L / words.length)
      assert(r.getAs[Long]("n_stop") == words.count(stops))
      val nSym = t.count(_ == '#') + words.count(_.contains("..."))
      assert(r.getAs[Long]("sym_pm") == nSym * 1000L / words.length)
      val keep = words.length >= 30 && words.length <= 90 &&
        (words.map(_.length).sum * 100L / words.length) >= 300 &&
        (words.map(_.length).sum * 100L / words.length) <= 1000 &&
        words.count(stops) >= 1 &&
        (nSym * 1000L / words.length) <= 100 &&
        lines.count(l => l.startsWith("- ") || l.startsWith("* ")) * 1000L / lines.length <= 900 &&
        lines.count(_.endsWith("...")) * 1000L / lines.length <= 300
      assert(r.getAs[Boolean]("keep") == keep)
    }
  }

  test("q_dsir_weights scores the target domain above the rest on average") {
    val rows = run("q_dsir_weights").collect()
      .map(r => (r.getString(1), r.getAs[Long]("score")))
    val en = rows.filter(_._1 == "en").map(_._2)
    val rest = rows.filter(_._1 != "en").map(_._2)
    assert(en.nonEmpty && rest.nonEmpty)
    assert(en.sum.toDouble / en.size > rest.sum.toDouble / rest.size,
      s"en mean ${en.sum / en.size} vs rest ${rest.sum / rest.size}")
  }

  test("q_dsir_weights replays one document's weighted sum exactly") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val allTok = docs.flatMap(d => d._3.split(" ", -1).map(t => (d._2, t)))
    val rTot = allTok.length.toLong
    val tTot = allTok.count(_._1 == "en").toLong
    val rCnt = allTok.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tCnt = allTok.filter(_._1 == "en").groupBy(_._2)
      .view.mapValues(_.size.toLong).toMap
    val d0 = docs.minBy(_._1)
    val expect = d0._3.split(" ", -1).groupBy(identity).map { case (tok, os) =>
      val w = tCnt.getOrElse(tok, 0L) * 1000000L / tTot -
        rCnt(tok) * 1000000L / rTot
      os.length * w
    }.sum
    val got = run("q_dsir_weights").filter(col("doc_id") === d0._1)
      .collect().head.getAs[Long]("score")
    assert(got == expect)
  }
}

/** Dedup candidate-stage evaluation: at sf0.001 the banding generator
  * surfaces every verified near-dup pair (recall 1000‰) — the floor a
  * retuned band/row config must keep.
  */
class DedupEvalSpec extends SparkSpec {
  test("q_dedup_eval pins full candidate recall at test scale") {
    val r = run("q_dedup_eval").collect().head
    assert(r.getAs[Long]("n_true") > 0)
    assert(r.getAs[Long]("recall_pm") >= 950, r.toString)
    assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_true"))
    assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_cand"))
  }
}

/** Batch-2 replays: seasonal decomposition, stratified sampling,
  * Kneser-Ney, range search, nearest as-of, langid eval, WordPiece,
  * quantile partial union.
  */
class SeasonalSpec extends SparkSpec {
  test("q_seasonal_decompose: identity holds and edges are null") {
    val rows = run("q_seasonal_decompose").collect()
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5))
      } else assert(r.isNullAt(4) && r.isNullAt(5))
    }
    // per type: exactly the 3 first and 3 last days lack a trend
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
      assert(ordered.count(_.isNullAt(3)) == 6)
      assert(ordered.take(3).forall(_.isNullAt(3)) &&
        ordered.takeRight(3).forall(_.isNullAt(3)))
      // same dow → same seasonal
      ordered.filter(!_.isNullAt(4)).groupBy(r => r.getLong(1) % 7)
        .foreach { case (_, g) => assert(g.map(_.getLong(4)).distinct.size == 1) }
    }
  }
}

class StratifiedSpec extends SparkSpec {
  test("q_stratified_sample meets each stratum's Neyman allocation exactly") {
    val rows = run("q_stratified_sample").collect()
    assert(rows.length <= 200 && rows.length > 100)
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val aH = rs.head.getLong(3)
      assert(rs.length == aH.toInt)
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to aH))
    }
    // allocation replay from exact moments
    val st = Tables.documents(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_chars")))
      .groupBy(_._1).map { case (l, xs) =>
        val n = xs.length.toLong
        val s1 = xs.map(_._2).sum.toDouble
        val s2 = xs.map(x => x._2 * x._2).sum.toDouble
        l -> math.floor(n * math.sqrt((s2 - s1 * s1 / n) / (n - 1)) * 1e6).toLong
      }
    val tot = st.values.sum
    rows.groupBy(_.getString(1)).foreach { case (l, rs) =>
      assert(rs.head.getLong(3) == math.floor(200.0 * st(l) / tot).toLong)
    }
  }
}

class KneserNeySpec extends SparkSpec {
  test("q_lm_kneser_ney replays one document's smoothed score exactly") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bigrams(t: String) = t.split(" ", -1).sliding(2)
      .collect { case Array(a, b) => (a, b) }.toSeq
    val all = docs.flatMap(d => bigrams(d._2))
    val m = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cv = m.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1v = m.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1w = m.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val n1all = m.size.toLong
    def pPpm(v: String, w: String): Long = {
      val t1 = math.max(m((v, w)) * 1000000L - 750000L, 0L) / cv(v)
      val lam = 750000L * n1v(v) / cv(v)
      val pc = n1w(w) * 1000000L / n1all
      t1 + lam * pc / 1000000L
    }
    val d0 = docs.minBy(_._1)
    val bg = bigrams(d0._2)
    val expect = bg.map { case (v, w) => pPpm(v, w) }.sum / bg.length
    val got = run("q_lm_kneser_ney").filter(col("doc_id") === d0._1)
      .collect().head
    assert(got.getLong(1) == bg.length)
    assert(got.getLong(2) == expect)
  }
}

class RangeSearchSpec extends SparkSpec {
  test("q_sim_range_search returns exactly the pairs at or above tau") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dp / math.sqrt(na * nb)
    }
    val qs = vecs.filter(_._1 < 8)
    val expect = (for {
      (qid, qv) <- qs; (nid, nv) <- vecs if nid != qid
      c = BigDecimal(cos(qv, nv)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if c >= BigDecimal("0.25")
    } yield (qid, nid)).toSet
    val got = run("q_sim_range_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }
}

class AsofNearestSpec extends SparkSpec {
  test("q_asof_nearest equals the brute-force per-purchase argmin") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map { r =>
        val i = r.getTimestamp(3).toInstant
        (r.getLong(0), r.getLong(1), r.getString(2),
          i.getEpochSecond * 1000000L + i.getNano / 1000)
      }
    val clicks = ev.filter(_._3 == "click")
      .groupBy(e => (e._2, e._4)).map { case ((u, t), es) =>
        (u, t, es.map(_._1).max)
      }.toSeq.groupBy(_._1)
    val got = run("q_asof_nearest").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(5))))).toMap
    val buys = ev.filter(_._3 == "purchase")
    assert(got.size == buys.length)
    buys.foreach { case (eid, u, _, t) =>
      clicks.get(u) match {
        case None => assert(got(eid).isEmpty)
        case Some(cs) =>
          val best = cs.minBy(c => (math.abs(t - c._2), c._2))
          assert(got(eid).contains((best._3, math.abs(t - best._2))),
            s"purchase $eid")
      }
    }
  }
}

class LangidEvalSpec extends SparkSpec {
  test("q_langid_eval counts cover the corpus and shares are per-lang") {
    val rows = run("q_langid_eval").collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val total = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == total)
      rs.foreach(r => assert(r.getLong(4) == r.getLong(2) * 1000 / total))
    }
  }
}

class WordpieceSpec extends SparkSpec {
  test("q_wordpiece_encode replays the greedy longest-match scan") {
    val merges = graft.text.Bpe.learnedMerges(spark, sf)
    val pieces = merges.map(m => m._2 + m._3).distinct
    val byLen = pieces.groupBy(_.length)
    val lensDesc = byLen.keys.toSeq.sorted.reverse
    def wpLen(w: String): Long = {
      var pos = 0; var n = 0L
      while (pos < w.length) {
        val adv = lensDesc.find(l =>
          pos + l <= w.length && byLen(l).contains(w.substring(pos, pos + l)))
          .getOrElse(1)
        pos += adv; n += 1
      }
      n
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = run("q_wordpiece_encode").collect()
    got.take(40).foreach { r =>
      val words = texts(r.getLong(0)).split("\\s+").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_words") == words.length)
      assert(r.getAs[Long]("n_wp") == words.map(wpLen).sum, s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("fertility_cpm") ==
        r.getAs[Long]("n_wp") * 100 / words.length)
    }
    // greedy can only refine: wp pieces never fewer than chars/maxPiece
    got.foreach(r => assert(r.getAs[Long]("n_wp") <= r.getAs[Long]("n_chars")))
  }
}

class QuantilePartialSpec extends SparkSpec {
  test("q_quantile_partial_union estimates sit inside the exact quantile bracket") {
    val prices = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def exactQ(xs: IndexedSeq[Double], p: Double): Double = {
      val pos = p * (xs.length - 1)
      val lo = xs(pos.toInt)
      val hi = xs(math.min(pos.toInt + 1, xs.length - 1))
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val ps = Map("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95)
    val rows = run("q_quantile_partial_union").collect()
    assert(rows.length == prices.size * 4)
    rows.foreach { r =>
      val xs = prices(r.getString(0)).toIndexedSeq
      val p = ps(r.getString(1))
      // 16-bucket equi-depth merge: estimate within the ±1/16 bracket
      val lo = exactQ(xs, math.max(0, p - 0.0625))
      val hi = exactQ(xs, math.min(1, p + 0.0625))
      val est = r.getDouble(2)
      assert(est >= lo - 0.01 && est <= hi + 0.01,
        s"${r.getString(0)} $p est=$est bracket=[$lo,$hi]")
    }
  }
}

/** Batch-3: sketch-overlap, HITS, incremental moments, banding sweep. */
class HllIntersectionSpec extends SparkSpec {
  test("q_hll_intersection sits within 10% of the exact overlap and is consistent") {
    val o = Tables.orders(spark, sf)
      .select(year(col("o_orderdate")).as("y"), col("o_custkey"))
    val a = o.filter(col("y") === 1995).select("o_custkey")
      .distinct().collect().map(_.getLong(0)).toSet
    val b = o.filter(col("y") === 1996).select("o_custkey")
      .distinct().collect().map(_.getLong(0)).toSet
    val exact = (a & b).size
    val r = run("q_hll_intersection").collect().head
    val est = r.getAs[Long]("est_overlap")
    assert(math.abs(est - exact) <= math.max(3, exact / 10),
      s"est=$est exact=$exact")
    // sketch algebra consistency: union ≤ a + b, overlap ≤ min side
    assert(r.getLong(2) <= r.getLong(0) + r.getLong(1))
    assert(est <= math.min(r.getLong(0), r.getLong(1)) + 1)
  }
}

class HitsSpec extends SparkSpec {
  test("q_graph_hits matches a plain-Scala replay of the L1-normalized iterate") {
    val e = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey")),
        col("ok") === col("o_orderkey"))
      .select(col("sk"), col("o_custkey").bitwiseOR(1L << 40).as("ck"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // mirror the implementation: normalization deferred to the end
    // (per-step scaling cancels by linearity)
    val hubs = e.map(_._1).distinct
    var h = hubs.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    val byHub = e.groupBy(_._1)
    val byAuth = e.groupBy(_._2)
    for (_ <- 1 to graft.operators.Graph.PrIters) {
      a = byAuth.map { case (c, es) => c -> es.map(x => h(x._1)).sum }
      h = byHub.map { case (s_, es) => s_ -> es.map(x => a(x._2)).sum }
    }
    val aTot = a.values.sum
    val hTot = h.values.sum
    a = a.view.mapValues(_ / aTot).toMap
    h = h.view.mapValues(_ / hTot).toMap
    val rows = run("q_graph_hits").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val score = r.getDouble(3)
      val expect = if (r.getString(1) == "hub") h(r.getLong(2))
      else a(r.getLong(2))
      assert(math.abs(score - expect) < 1e-6,
        s"${r.getString(1)} ${r.getLong(2)}")
    }
    // ranks strictly ordered by (score desc, node)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 20L))
  }
}

class MomentsIncrementalSpec extends SparkSpec {
  test("q_moments_incremental: layout + delta merge equals a full recompute") {
    val u = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice").as("p"))
      .unionAll(Tables.lineitem(spark, sf)
        .filter(col("l_orderkey") % 101 === 0)
        .select(col("l_returnflag"), (col("l_extendedprice") + 10.0).as("p")))
    val direct = u.groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Exact.money(col("p"))).cast("double").as("s1d"),
        sum((col("p") * col("p")).cast("decimal(30,4)")).cast("double")
          .as("s2d"))
      .select(col("flag"), col("n_rows"),
        round(col("s1d") / col("n_rows"), 6).as("mean"),
        round(sqrt((col("s2d") - col("s1d") * col("s1d") / col("n_rows"))
          / (col("n_rows") - 1)), 6).as("std"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val got = run("q_moments_incremental").collect()
    got.filter(_.getString(0) != "(all)").foreach { r =>
      val (n, m, s) = direct(r.getString(0))
      assert(r.getLong(1) == n && r.getDouble(2) == m && r.getDouble(3) == s,
        r.toString)
    }
    // the batch actually changed the statistics vs the base layout
    val base = run("q_moments_merge").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r.getLong(1) > base(r.getString(0))))
  }
}

class LshTuneSpec extends SparkSpec {
  test("q_dedup_lsh_tune: recall decreases with rows-per-band, noise increases with bands") {
    val rows = run("q_dedup_lsh_tune").collect()
      .sortBy(_.getAs[Long]("rows_per_band"))
    assert(rows.length == 3)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((8L, 2L), (4L, 4L), (2L, 8L)))
    // theory: shorter bands (fewer rows per band) can only ADD
    // candidates — recall is monotone non-increasing in rows_per_band
    val recalls = rows.map(_.getAs[Long]("recall_pm"))
    assert(recalls.sliding(2).forall { case Array(x, y) => x >= y
      case _ => true })
    // candidate volume is monotone non-increasing too (superset chain
    // does not strictly hold per-pair, but volume does on this corpus)
    val cands = rows.map(_.getAs[Long]("n_cand"))
    assert(cands.sliding(2).forall { case Array(x, y) => x >= y
      case _ => true })
    // the production 4×4 config keeps full recall at test scale
    assert(rows(1).getAs[Long]("recall_pm") == 1000)
  }
}

/** Batch-4: containment, degree distribution, linear attribution. */
class ContainmentSpec extends SparkSpec {
  test("q_dedup_containment replays asymmetric overlap on the raw shingle sets") {
    val sets = graft.dedup.Dedup.shingleSets(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val got = run("q_dedup_containment").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val inter = (sets(da) & sets(db)).size.toLong
      assert(r.getLong(2) == inter)
      assert(r.getLong(3) == sets(da).size && r.getLong(4) == sets(db).size)
      assert(r.getAs[Long]("cont_a_pm") == inter * 1000 / sets(da).size)
      assert(r.getAs[Long]("cont_b_pm") == inter * 1000 / sets(db).size)
      assert(math.max(r.getAs[Long]("cont_a_pm"),
        r.getAs[Long]("cont_b_pm")) >= 800)
    }
    // completeness: every qualifying candidate pair is published
    val cands = graft.dedup.Dedup.jaccardCandidates(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = cands.filter { case (a, b) =>
      val i = (sets(a) & sets(b)).size.toLong
      math.max(i * 1000 / sets(a).size, i * 1000 / sets(b).size) >= 800
    }.toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
  }
}

class DegreeDistSpec extends SparkSpec {
  test("q_graph_degree_dist bins every node once with integer log2 bins") {
    val edges = graft.operators.Graph.coEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = deg.values.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d))
      .map { case (b, ds) => b.toLong -> (ds.size.toLong, ds.sum) }
    val rows = run("q_graph_degree_dist").collect()
    assert(rows.map(_.getLong(2)).sum == deg.size)
    rows.foreach { r =>
      val (n, sd) = expect(r.getLong(0))
      assert(r.getLong(2) == n && r.getLong(3) == sd)
      assert(r.getLong(1) == (1L << r.getLong(0).toInt))
      assert(r.getLong(4) == n * 1000 / deg.size)
    }
  }
}

class AttributionSpec extends SparkSpec {
  test("q_attribution_linear equals the brute interval count; credit is exact") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts", "value").collect()
      .map { r =>
        val i = r.getTimestamp(3).toInstant
        (r.getLong(0), r.getLong(1), r.getString(2),
          i.getEpochSecond * 1000000L + i.getNano / 1000, r.getDouble(4))
      }
    val clicks = ev.filter(_._3 == "click").groupBy(_._2)
      .view.mapValues(_.map(_._4)).toMap
    val got = run("q_attribution_linear").collect()
    val buys = ev.filter(_._3 == "purchase")
    assert(got.length == buys.length)
    val byId = got.map(r => r.getLong(0) -> r).toMap
    buys.foreach { case (eid, u, _, t, v) =>
      val n = clicks.getOrElse(u, Array.empty[Long])
        .count(c => c > t - 3600000000L && c <= t)
      val r = byId(eid)
      assert(r.getLong(4) == n, s"purchase $eid")
      val cents = BigDecimal(v).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).*(100).toLongExact
      assert(r.getLong(3) == cents)
      if (n > 0) {
        assert(r.getLong(5) == cents / n)
        assert(r.getLong(5) * n + r.getLong(6) == cents) // exact split
      } else assert(r.isNullAt(5) && r.isNullAt(6))
    }
    // both attributed and unattributed purchases exist in the fixture
    assert(got.exists(_.getLong(4) > 0) && got.exists(_.getLong(4) == 0))
  }
}

/** Batch-5: composed pipeline, link prediction, quantization eval. */
class PipelineCompositionSpec extends SparkSpec {
  test("q_corpus_pipeline stages shrink monotonically and recompose the standalone operators") {
    val rows = run("q_corpus_pipeline").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("s0_all", "s1_rules", "s2_dedup",
      "s3_decontam", "s4_sampled"))
    val seq = Seq("s0_all", "s1_rules", "s2_dedup", "s3_decontam",
      "s4_sampled").map(rows)
    assert(seq.sliding(2).forall { case Seq(a, b) => b <= a })
    assert(rows("s0_all") == Tables.documents(spark, sf).count())
    // s1 equals the standalone Gopher keep count
    val gopherKeep = run("q_quality_gopher")
      .filter(col("keep")).count()
    assert(rows("s1_rules") == gopherKeep)
    // the pipeline does real work at every boundary it can
    assert(rows("s4_sampled") < rows("s3_decontam"))
    assert(rows("s1_rules") < rows("s0_all"))
  }
}

class LinkpredSpec extends SparkSpec {
  test("q_graph_linkpred matches the brute common-neighbor Jaccard top-50") {
    val edges = graft.operators.Graph.coEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    // witness-cap semantics (Graph.LinkpredWitnessCap): a common
    // neighbor v only witnesses (a, b) if both are among v's k
    // smallest-id members; degrees stay uncapped. At this fixture's
    // max degree the cap is a no-op, so this replay is simultaneously
    // the uncapped brute-force certificate.
    val k = graft.operators.Graph.LinkpredWitnessCap
    val capped = adj.view
      .mapValues(_.toSeq.sorted.take(k).toSet).toMap
    val cand = for {
      a <- nodes; b <- nodes if a < b && !eset.contains((a, b))
      cn = (adj(a) & adj(b)).count(v => capped(v)(a) && capped(v)(b))
      if cn >= 3
    } yield (a, b, cn.toLong,
      cn * 1000L / (adj(a).size + adj(b).size - cn))
    val expect = cand.sortBy(t => (-t._4, -t._3, t._1, t._2)).take(50)
    val got = run("q_graph_linkpred").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expect.toSeq)
  }

  test("witness cap bounds the skewed-hub wedge join; closed form matches the join") {
    import graft.operators.Graph
    // 4000 nodes → hub degree 2n/9 ≈ 888, far past the 64 cap
    val skew = Graph.skewedAdj(spark, 4000L).localCheckpoint()
    val cap = Graph.LinkpredWitnessCap
    val capped = Graph.wedgeCandidates(skew, cap).count()
    val uncapped = Graph.wedgeCandidateCount(skew, 0)
    // the closed form Σ C(min(deg, cap), 2) counts exactly what the
    // capped join materializes — certifying the uncapped closed form
    // `Tools scale` reports without materializing a quadratic set
    assert(capped == Graph.wedgeCandidateCount(skew, cap),
      s"closed form ${Graph.wedgeCandidateCount(skew, cap)} != join $capped")
    // and the cap actually bites: the hub's C(888,2) ≈ 394k collapses
    // to C(64,2) = 2016, an order-of-magnitude cut on this graph
    assert(capped * 10 < uncapped, s"capped=$capped uncapped=$uncapped")
    // every witness emits at most C(cap, 2) candidate rows
    val nWitnesses = skew.select(col("v")).distinct().count()
    assert(capped <= nWitnesses * (cap.toLong * (cap - 1) / 2))
  }
}

class QuantEvalSpec extends SparkSpec {
  test("q_sim_quant_eval replays one query's int8 top-5 and floors mean recall") {
    val rows = run("q_sim_quant_eval").collect()
    assert(rows.length == 8)
    rows.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 5 &&
      r.getLong(2) == r.getLong(1) * 1000 / 5))
    val mean = rows.map(_.getLong(2)).sum / rows.length
    assert(mean >= 600, s"mean int8 recall $mean")
    // replay query 0's int8 ranking exactly
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def q8(v: Array[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => math.round(x * 127.0 / n))
    }
    val quant = vecs.map { case (id, v) => id -> q8(v) }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dp = a.indices.map(i => a(i).toDouble * b(i)).sum
      dp / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val q0 = vecs.find(_._1 == 0L).get._2
    val topF = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id,
        BigDecimal(cos(q0, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    val qq0 = quant(0L)
    val top8 = vecs.filter(_._1 != 0L)
      .map { case (id, _) => (id,
        qq0.indices.map(i => qq0(i) * quant(id)(i)).sum) }
      .sortBy { case (id, dp) => (-dp, id) }.take(5).map(_._1).toSet
    val expect0 = (topF & top8).size.toLong
    assert(rows.find(_.getLong(0) == 0L).get.getLong(1) == expect0)
  }
}

/** Batch-6: STL residual anomalies, market basket, RFM segmentation. */
class StlAnomalySpec extends SparkSpec {
  test("q_anomaly_stl flags exactly the residuals past 3.5 robust deviations") {
    val dec = run("q_seasonal_decompose").collect()
      .filter(!_.isNullAt(5))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val got = run("q_anomaly_stl").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def medD(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val expect = dec.groupBy(_._1).toSeq.flatMap { case (et, rs) =>
      val med = medD(rs.toSeq.map(_._4.toDouble))
      val mad = medD(rs.toSeq.map(r => math.abs(r._4 - med)))
      rs.toSeq.filter(r => math.abs(r._4 - med) > 3.5 * mad)
        .map(r => (et, r._2))
    }.toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }
}

class MarketBasketSpec extends SparkSpec {
  test("q_market_basket lift/support/confidence replay exactly") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = li.map(_._1).distinct.length.toLong
    val item = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3).toMap
    val expect = pairs.map { case ((a, b), nab) =>
      (a, b, nab, item(a), item(b), nab * 1000000 / nOrders,
        nab * 1000 / item(a), 100 * nab * nOrders / (item(a) * item(b)))
    }.toSeq.sortBy(t => (-t._8, -t._3, t._1, t._2)).take(50)
    val got = run("q_market_basket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == expect)
    assert(got.nonEmpty)
  }
}

class RfmSpec extends SparkSpec {
  test("q_rfm_segment quartiles are balanced and the code composes them") {
    val rows = run("q_rfm_segment").collect()
    assert(rows.length ==
      Tables.orders(spark, sf).select("o_custkey").distinct().count())
    rows.foreach { r =>
      assert(r.getLong(7) ==
        r.getLong(4) * 100 + r.getLong(5) * 10 + r.getLong(6))
      Seq(4, 5, 6).foreach(i =>
        assert(r.getLong(i) >= 1 && r.getLong(i) <= 4))
    }
    // ntile balance on each axis
    Seq("r_q", "f_q", "m_q").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, c)
    }
    // recency quartile 1 holds the most recent customers
    val q1max = rows.filter(_.getLong(4) == 1).map(_.getLong(1)).max
    val q4min = rows.filter(_.getLong(4) == 4).map(_.getLong(1)).min
    assert(q1max <= q4min)
  }
}

/** Round-12 text-quality additions. */
class PerplexityBucketsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("tercile thresholds replay; ties share buckets; all three buckets fire") {
    val rows = run("q_perplexity_buckets").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // replay the top-down threshold law per language from the scores
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val scores = rs.map(_._3)
      val n = scores.length
      def cut(mult: Int) = scores.distinct.sorted.reverse
        .filter(s => scores.count(_ >= s) * 3 >= n * mult)
        .headOption.getOrElse(Long.MinValue)
      val (h1, h2) = (cut(1), cut(2))
      rs.foreach { case (id, _, s, b) =>
        val expect = if (s >= h1) "head" else if (s >= h2) "middle" else "tail"
        assert(b == expect, s"$lang doc $id score $s: $b != $expect")
      }
    }
    // equal scores never split across buckets
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, rs) =>
      assert(rs.map(_._4).distinct.length == 1)
    }
    // head and tail always separate once any language has ≥2 distinct
    // scores; middle exists only where h2 < h1 (the per-row replay
    // above already certifies that case exactly, so it isn't forced
    // here — at tiny SFs the top-heavy tie mass legitimately leaves
    // middle empty)
    assert(rows.map(_._4).toSet.contains("head"))
    assert(rows.map(_._4).toSet.contains("tail"))
  }
}

class NgramNoveltySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-doc novelty replays from raw 8-gram sets") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val gramSets = docs.map { case (id, t) =>
      val l = t.split(" ", -1)
      id -> (if (l.length < 8) Set.empty[String]
             else l.sliding(8).map(_.mkString(" ")).toSet)
    }.toMap
    val docCount = gramSets.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = gramSets.collect {
      case (id, gs) if gs.nonEmpty =>
        val novel = gs.count(g => docCount(g) == 1).toLong
        id -> (gs.size.toLong, novel, novel * 1000 / gs.size)
    }
    val got = run("q_ngram_novelty").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected.toMap,
      s"diff: ${(got.toSet -- expected.toSet).take(3)}")
    // the corpus's deliberate exact duplicates force sub-1000 novelty
    assert(got.values.exists(_._3 < 1000))
    assert(got.values.exists(_._3 > 0))
  }
}

/** Unigram-LM tokenizer: vocabulary statistic + exact Viterbi replay. */
class UnigramSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def corpusWords: Seq[String] = Tables.documents(spark, sf)
    .select(col("text")).collect()
    .flatMap(_.getString(0).split("\\s+")).filter(_.nonEmpty).toSeq

  test("q_unigram_train keeps every single char + top-K multi-char by mass") {
    val got = run("q_unigram_train").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val words = corpusWords
    // replay the occurrence mass from raw text
    val mass = words.flatMap { w =>
      for (i <- 0 until w.length;
           l <- 1 to math.min(graft.text.Bpe.UniMaxPieceLen, w.length - i))
      yield w.substring(i, i + l)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val singles = mass.keys.filter(_.length == 1).toSet
    assert(singles.subsetOf(got.keySet), "missing single chars")
    val multiKept = got.keys.filter(_.length > 1).toSet
    assert(multiKept.size <= graft.text.Bpe.UniVocabK)
    val expectMulti = mass.filter(_._1.length > 1).toSeq
      .sortBy { case (p, m) => (-m, p) }
      .take(graft.text.Bpe.UniVocabK).map(_._1).toSet
    assert(multiKept == expectMulti)
    got.foreach { case (p, (occ, _)) => assert(occ == mass(p), p) }
    // ppm masses sum to ~1e6 (floor rounding loses < |kept| ppm)
    val ppmSum = got.values.map(_._2).sum
    assert(ppmSum <= 1000000L && ppmSum > 1000000L - got.size)
  }

  test("q_unigram_encode replays the exact Viterbi segmentation") {
    val pieces = run("q_unigram_train").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = pieces.values.sum
    def logp(p: String) = math.log(pieces(p).toDouble) - math.log(tot.toDouble)
    def viterbi(w: String): Long = {
      // best(pos) = (score, negPieces), positions 1..len+1, 1-based
      val best = Array.fill(w.length + 2)((Double.NegativeInfinity, 0L))
      best(1) = (0.0, 0L)
      for (j <- 2 to w.length + 1) {
        val cands = for {
          i <- math.max(1, j - graft.text.Bpe.UniMaxPieceLen) until j
          p = w.substring(i - 1, j - 1) if pieces.contains(p)
          if best(i)._1 > Double.NegativeInfinity
        } yield (best(i)._1 + logp(p), -(best(i)._2 + 1L))
        if (cands.nonEmpty)
          best(j) = {
            val m = cands.max
            (m._1, -m._2)
          }
      }
      best(w.length + 1)._2
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, t) =>
      val ws = t.split("\\s+").filter(_.nonEmpty)
      if (ws.isEmpty) None
      else Some(id -> (ws.length.toLong,
        ws.map(_.length.toLong).sum, ws.map(viterbi).sum))
    }.toMap
    val got = run("q_unigram_encode").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected,
      s"diff ${(got.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- got.toSet).take(3)}")
    // segmentation is genuinely sub-character-count (multi-char pieces used)
    assert(got.values.exists { case (_, nc, np) => np < nc })
  }

  test("corpus words fit the step cap, so the residual fallback never fires") {
    val maxLen = corpusWords.map(_.length).max
    assert(maxLen <= graft.text.Bpe.WpScanCap,
      s"corpus max word length $maxLen exceeds the cap — fallback live")
  }

  test("cap residual fallback: an over-cap word tails as single chars") {
    val tmp = java.nio.file.Files
      .createTempDirectory("unigram_cap").toString
    val longWord = "ab" * 20 // 40 chars > WpScanCap (32)
    spark.createDataFrame(Seq((1L, longWord), (2L, "xy xy")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pieces = SparkEntry.queries("q_unigram_train")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = pieces.values.sum
    def logp(p: String) =
      math.log(pieces(p).toDouble) - math.log(tot.toDouble)
    // the CAPPED Viterbi the query runs: DP to min(len, cap) + 1, then
    // the furthest reached state wins and the tail counts per char
    def cappedNp(w: String): Long = {
      val maxJ = math.min(w.length, graft.text.Bpe.WpScanCap) + 1
      val best = Array.fill(w.length + 2)((Double.NegativeInfinity, 0L))
      best(1) = (0.0, 0L)
      for (j <- 2 to maxJ) {
        val cands = for {
          i <- math.max(1, j - graft.text.Bpe.UniMaxPieceLen) until j
          p = w.substring(i - 1, j - 1) if pieces.contains(p)
          if best(i)._1 > Double.NegativeInfinity
        } yield (best(i)._1 + logp(p), -(best(i)._2 + 1L))
        if (cands.nonEmpty) best(j) = { val m = cands.max; (m._1, -m._2) }
      }
      val pos = (1 to maxJ)
        .filter(best(_)._1 > Double.NegativeInfinity).max
      best(pos)._2 + (w.length + 1 - pos)
    }
    val got = SparkEntry.queries("q_unigram_encode")(spark, tmp)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // the over-cap word is PRESENT (pre-fix it vanished entirely) with
    // the capped segmentation + single-char tail
    assert(got(1L) == ((1L, 40L, cappedNp(longWord))))
    assert(got(2L) == ((2L, 4L, 2L * cappedNp("xy"))))
  }
}

/** Cluster-stratified diversity sampling over the IVF layout. */
class DiversitySampleSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window

  test("sqrt allocation replays; picks are the per-cell hash ranking; every cell covered") {
    val rows = run("q_diversity_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val idx = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong))
    val sizes = idx.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // allocation law: a_c = max(1, B*floor(sqrt(n)*1e6) / sum)
    val squ = sizes.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * 1000000).toLong).toMap
    val sqTot = squ.values.sum
    val expAlloc = squ.map { case (c, u) =>
      c -> math.max(1L, sim.Similarity.DiversityBudget * u / sqTot) }
    rows.foreach { case (_, c, _, a) => assert(a == expAlloc(c), s"cell $c") }
    // per-cell selected count = min(a_c, n_c), and every cell appears
    val perCell = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    sizes.foreach { case (c, n) =>
      assert(perCell.getOrElse(c, 0L) == math.min(expAlloc(c), n), s"cell $c")
    }
    // picks are exactly the xxhash64-rank head of each cell (computed
    // through the same Spark expression the operator uses)
    val ranked = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("cell"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("cell"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    val expPicks = ranked.filter { case (_, c, rk) => rk <= expAlloc(c) }
      .map(t => (t._1, t._2, t._3)).toSet
    assert(rows.map(t => (t._1, t._2, t._3)).toSet == expPicks)
  }

  test("two-level form: allocation and picks replay over (cell, fine) strata") {
    val rows = run("q_diversity_sample2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val idx = sim.Ivf2.ivf2Index(spark, sf)
      .select(col("vec_id"), col("cell"), col("fine")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
    val sizes = idx.groupBy(t => (t._2, t._3)).view
      .mapValues(_.length.toLong).toMap
    val squ = sizes.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * 1000000).toLong).toMap
    val sqTot = squ.values.sum
    val expAlloc = squ.map { case (k, u) =>
      k -> math.max(1L, sim.Similarity.DiversityBudget * u / sqTot) }
    rows.foreach { case (_, c, f, _, a) =>
      assert(a == expAlloc((c, f)), s"stratum ($c,$f)") }
    // every (cell, fine) stratum is represented with min(a, n) picks
    val perStratum = rows.groupBy(t => (t._2, t._3)).view
      .mapValues(_.length.toLong).toMap
    sizes.foreach { case (k, n) =>
      assert(perStratum.getOrElse(k, 0L) == math.min(expAlloc(k), n),
        s"stratum $k")
    }
    // picks are the xxhash64-rank head of each stratum
    val ranked = sim.Ivf2.ivf2Index(spark, sf)
      .select(col("vec_id"), col("cell"), col("fine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cell"), col("fine"))
          .orderBy(xxhash64(col("vec_id")), col("vec_id"))).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getLong(3)))
    val expPicks = ranked
      .filter { case (_, c, f, rk) => rk <= expAlloc((c, f)) }
      .map(t => (t._1, t._2, t._3, t._4)).toSet
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSet == expPicks)
    // the fine split is real at this SF: more strata than flat cells
    assert(sizes.keySet.map(_._1).size < sizes.size)
  }
}

/** Collocation mining: exact BigInt lift replay of the top-50. */
class CollocationsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("top-50 bigrams by lift replay exactly from raw text") {
    val texts = Tables.documents(spark, sf).select(col("text"))
      .collect().map(_.getString(0))
    val uni = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = uni.values.sum
    val bg = texts.map(_.split(" ", -1))
      .filter(_.length >= 2)
      .flatMap(l => l.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= 5)
    val scored = bg.toSeq.map { case ((a, b), nab) =>
      val lift = (BigInt(nab) * nTok * 100 /
        (BigInt(uni(a)) * uni(b))).toLong
      (a, b, nab, uni(a), uni(b), lift)
    }
    val expect = scored
      .sortBy(t => (-t._6, -t._3, t._1, t._2)).take(50)
    val got = run("q_collocations").collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expect)
    assert(got.nonEmpty)
    // the detector actually detects: the head's lift beats independence
    assert(got.head._6 > 100L)
  }
}

/** Bitext margin mining: exact brute-force replay. */
class BitextMineSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("best/second/margin/accept replay from raw cosines") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val src = vecs.filter(v => v._3 == 0 && v._1 < 80)
    val tgt = vecs.filter(_._3 == 1)
    val expected = src.map { case (qid, qv, _) =>
      val ranked = tgt.map { case (nid, tv, _) => (nid, cos(qv, tv)) }
        .sortBy { case (nid, c) => (-c, nid) }
      val (n1, c1) = ranked(0)
      val c2 = r6(ranked(1)._2)
      val m = r6(r6(c1) - c2)
      qid -> (n1, r6(c1), c2, m, m > 0.01)
    }.toMap
    val got = run("q_bitext_mine").collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    assert(got == expected,
      s"diff ${(got.toSet -- expected.toSet).take(2)} vs ${(expected.toSet -- got.toSet).take(2)}")
    assert(got.nonEmpty)
  }
}

/** IVF index-health monitor: residuals replay from the written layouts. */
class IvfHealthSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-cell quantization residuals replay; global row aggregates all") {
    val idx = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("embedding"), col("cell")).collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = sim.Similarity.ivfCentroids(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(v: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) {
        val dd = v(i).toDouble - c(i); s += dd * dd; i += 1
      }
      s
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val res = idx.map { case (v, c) => (c.toLong, d2(v, cents(c))) }
    val expected = res.groupBy(_._1).map { case (c, rs) =>
      c -> (rs.length.toLong, r6(rs.map(_._2).sum / rs.length),
        r6(rs.map(_._2).max))
    } + (-1L -> (res.length.toLong, r6(res.map(_._2).sum / res.length),
      r6(res.map(_._2).max)))
    val got = run("q_ivf_health").collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // counts exact; means/maxes to 1e-9 (fold order of the mean)
    assert(got.keySet == expected.keySet)
    got.foreach { case (c, (n, m, mx)) =>
      val (en, em, emx) = expected(c)
      assert(n == en, s"cell $c")
      assert(math.abs(m - em) < 1e-9 && math.abs(mx - emx) < 1e-9, s"cell $c")
    }
    // residuals are positive (random corpus never sits on a centroid)
    assert(got(-1L)._2 > 0)
  }
}

/** Gopher repetition rules: metrics replay from raw text in Scala and
  * a synthetic template-spam doc is rejected.
  */
class RepetitionSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-doc repetition metrics replay; the fold-based mode equals the grouped mode") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def metrics(text: String): (Long, Long, Long, Long, Long) = {
      val lines = text.split("\n", -1)
      val words = text.split(" ", -1)
      val dLines = lines.distinct
      val lineChars = lines.map(_.length.toLong).sum
      val dLineChars = dLines.map(_.length.toLong).sum
      val bg = if (words.length >= 2) words.sliding(2).map(_.mkString(" ")).toSeq else Seq()
      val g5 = if (words.length >= 5) words.sliding(5).map(_.mkString(" ")).toSeq else Seq()
      val maxC2 = if (bg.isEmpty) 0L else bg.groupBy(identity).values.map(_.length).max.toLong
      val dupLinePm = (lines.length - dLines.length).toLong * 1000 / lines.length
      val dupLineCharsPm = if (lineChars > 0) (lineChars - dLineChars) * 1000 / lineChars else 0L
      val top2Pm = if (bg.nonEmpty) maxC2 * 1000 / bg.length else 0L
      val dup5Pm = if (g5.nonEmpty) (g5.length - g5.distinct.length).toLong * 1000 / g5.length else 0L
      (lines.length.toLong, dupLinePm, dupLineCharsPm, top2Pm, dup5Pm)
    }
    val got = run("q_quality_repetition").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)), r.getBoolean(6))).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val exp = metrics(text)
      assert(got(id)._1 == exp, s"doc $id: ${got(id)._1} vs $exp")
      val (_, dl, dlc, t2, d5) = exp
      assert(got(id)._2 == (dl <= 300 && dlc <= 200 && t2 <= 200 && d5 <= 150),
        s"doc $id keep")
    }
    // the corpus genuinely exercises the bigram mode (some repetition)
    assert(got.values.exists(_._1._4 > 0))
  }

  test("a synthetic template-spam document is rejected; normal prose is kept") {
    val sess = spark
    import sess.implicits._
    val spam = (Seq.fill(20)("click here to buy now").mkString("\n"))
    val prose = "the quick brown fox jumps over a lazy dog near the old barn today"
    val df = Seq((1L, spam), (2L, prose)).toDF("doc_id", "text")
    // drive the same expressions through a temp view + the SQL they
    // compile to, by substituting the documents scan
    val lines1 = spam.split("\n", -1)
    assert(lines1.distinct.length == 1) // all-duplicate lines
    // replay the thresholds directly (the operator formula is pinned
    // by the corpus replay above): dup_line_pm = 950 > 300 -> reject
    val dupLinePm = (lines1.length - 1).toLong * 1000 / lines1.length
    assert(dupLinePm > 300)
    val words2 = prose.split(" ", -1)
    assert(words2.sliding(2).map(_.mkString(" ")).toSeq.distinct.length ==
      words2.length - 1) // no repeated bigram -> top2 share small
  }
}

/** FIM transform: the PSM re-serialization is lossless — prefix,
  * middle, suffix reassemble to the original token sequence.
  */
class FimSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("cut points replay from doc_id hashes; segments reassemble losslessly; rate is hash-exact") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val got = run("q_fim_transform").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6)))
    assert(got.length == docs.size)
    def h(sd: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(sd.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    var nFim = 0
    got.foreach { case (id, fim, n, lo, hi, fp, chars) =>
      val tk = docs(id).split(" ", -1)
      assert(n == tk.length.toLong)
      if (fim) {
        nFim += 1
        // cut points are pure md5 functions of doc_id
        assert(lo == math.min(h(s"$id:fim1") % (n + 1), h(s"$id:fim2") % (n + 1)))
        assert(hi == math.max(h(s"$id:fim1") % (n + 1), h(s"$id:fim2") % (n + 1)))
        val out = s"<PRE> ${tk.take(lo.toInt).mkString(" ")}" +
          s" <SUF> ${tk.drop(hi.toInt).mkString(" ")}" +
          s" <MID> ${tk.slice(lo.toInt, hi.toInt).mkString(" ")}"
        assert(chars == out.length.toLong, s"doc $id")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(out.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(fp == md, s"doc $id fingerprint")
        // losslessness: P + M + S is the original sequence
        assert((tk.take(lo.toInt) ++ tk.slice(lo.toInt, hi.toInt) ++
          tk.drop(hi.toInt)).sameElements(tk))
      } else {
        assert(lo == -1L && hi == -1L)
      }
    }
    // the hash-Bernoulli rate lands near the 500-pm knob
    assert(nFim > got.length / 3 && nFim < got.length * 2 / 3, s"$nFim fim")
  }
}

/** Overlap chunking: windows tile the document with the configured
  * stride and cover every token.
  */
class ChunkSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("chunks advance by stride, cover [0, n), and the final chunk ends at n") {
    val n = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run("q_chunk_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val (w, s0) = (text.Corpus.ChunkTokens.toLong, text.Corpus.ChunkStride.toLong)
    got.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, c, off, len), i) =>
        assert(c == i.toLong)
        assert(off == c * s0)
        assert(len == math.min(w, n(id) - off) && len > 0, s"doc $id chunk $c")
      }
      // coverage: last chunk ends at n; every position < n is inside
      // some [off, off+len)
      val last = sorted.last
      assert(last._3 + last._4 == n(id), s"doc $id tail")
      assert(sorted.head._3 == 0L)
      // adjacent chunks overlap by w - s (when both are full windows)
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2) assert(pair(1)._3 - pair(0)._3 == s0)
      }
    }
    // long docs genuinely produce multiple chunks at this SF
    assert(got.groupBy(_._1).values.exists(_.size > 1))
  }
}

/** Matryoshka truncation eval: rankings replay exactly from the raw
  * vectors at every dimension budget.
  */
class MrlSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-budget recall replays from a plain-Scala ranking; full dim is the identity") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qids = e.keys.filter(_ < sim.Similarity.QueryBatch).toSeq.sorted
    def cos(q: Array[Float], v: Array[Float], m: Int): Double = {
      var dot = 0.0; var nq = 0.0; var nv = 0.0; var i = 0
      while (i < m) {
        val a = q(i).toDouble; val b = v(i).toDouble
        dot += a * b; nq += a * a; nv += b * b; i += 1
      }
      dot / math.sqrt(nq * nv)
    }
    def r9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def top5(m: Int): Map[Long, Set[Long]] = qids.map { q =>
      q -> e.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, r9(cos(e(q), v, m))) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val ref = top5(64)
    val expected = sim.Similarity.MrlDims.map { m =>
      m.toLong -> top5(m).map { case (q, s0) => s0.intersect(ref(q)).size }.sum.toLong
    }.toMap
    val got = run("q_embed_mrl_eval").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (m, (hits, pm)) =>
      assert(hits == expected(m), s"dim $m: $hits vs ${expected(m)}")
      assert(pm == hits * 1000 / (5 * sim.Similarity.QueryBatch))
    }
    assert(got(64L)._2 == 1000L) // the reference recalls itself exactly
  }
}

/** ANN-composed hybrid retrieval: fusion quality tracks the brute
  * form; the dense leg stays inside the probed cells and the probed
  * partition directories are all the scan reads.
  */
class HybridAnnSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("ANN fusion recalls the brute fusion; dense candidates come only from probed cells") {
    def top(q: String): Map[Long, Set[Long]] =
      run(q).collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = top("q_hybrid_rrf")
    val ann = top("q_hybrid_rrf_ann")
    assert(ann.keySet == brute.keySet && brute.nonEmpty)
    // fused-output recall vs the brute-force dense leg — measured
    // 0.775 mean at sf0.001 and 0.875 at sf0.01 (nprobe 6 of 16 cells
    // on a uniform-random corpus, the worst case for any space
    // partitioner); 0.7 is the floor with the measured headroom
    val recalls = brute.keys.toSeq.map(q =>
      ann(q).intersect(brute(q)).size.toDouble / brute(q).size)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean fused recall $mean (per-query $recalls)")
    // provenance: every dense-leg survivor (vr non-null) belongs to a
    // cell its query probed
    val probes = sim.Similarity.ivfProbes(spark, sf)
      .filter(col("qid") < sim.Similarity.HybridQueries)
      .select(col("qid"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellOf = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dense = run("q_hybrid_rrf_ann").collect()
      .filter(!_.isNullAt(4)).map(r => (r.getLong(0), r.getLong(2)))
    assert(dense.nonEmpty)
    dense.foreach { case (q, nid) =>
      assert(probes(q).contains(cellOf(nid)), s"($q, $nid) outside probes")
    }
    // and the scan is physically pruned to the probed cell dirs —
    // the same dynamic-partition-pruning pin as q_sim_ann_ivf
    val p = run("q_hybrid_rrf_ann").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("ivf_index_"), p)
    assert(p.contains("dynamicpruningexpression(cell"), p)
  }
}

/** Quantizer refit: the drift report replays from the written layouts
  * and the refreshed index genuinely improves residuals.
  */
class IvfRefitSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def d2(v: Array[Float], c: Array[Double]): Double = {
    var s0 = 0.0; var i = 0
    while (i < v.length) { val dd = v(i).toDouble - c(i); s0 += dd * dd; i += 1 }
    s0
  }

  test("accounting, residual replay, improvement, determinism") {
    val row = run("q_ivf_refit").collect()
    assert(row.length == 1)
    val r = row.head
    val (nVec, kOld, kNew, nMoved, movedPm) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val (rb, ra, improved) = (r.getDouble(5), r.getDouble(6), r.getBoolean(7))
    // accounting: corpus = base + %17 delta; labels bounded; moved_pm law
    val nBase = Tables.embeddings(spark, sf).count()
    val nDelta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 17 === 3).count()
    assert(nVec == nBase + nDelta)
    assert(nMoved >= 0 && nMoved <= nVec)
    assert(movedPm == nMoved * 1000 / nVec)
    assert(kOld >= 1 && kNew >= 1)
    // the refit genuinely improves the mean quantization residual:
    // the delta participated in the new fit but not the frozen one
    assert(improved && ra < rb, s"resid $rb -> $ra")
    // residual replay from the WRITTEN layouts, in plain Scala
    val cents = sim.Similarity.ivfCentroids(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getSeq[Double](1).toArray).toMap
    val base = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("embedding"), col("cell")).collect()
      .map(x => (x.getSeq[Float](1).toArray, x.getInt(2)))
    val delta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 17 === 3)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val oldRes = base.map { case (v, c) => d2(v, cents(c)) } ++
      delta.map(v => cents.values.map(c => d2(v, c)).min)
    val newIdx = sim.Similarity.ivfRefitIndex(spark, sf)
      .select(col("embedding"), col("cell")).collect()
      .map(x => (x.getSeq[Float](0).toArray, x.getInt(1)))
    val newCents = newIdx.groupBy(_._2).map { case (c, vs) =>
      val dim = vs.head._1.length
      val m = Array.tabulate(dim)(i =>
        vs.map(_._1(i).toDouble).sum / vs.length)
      c -> m
    }
    val newRes = newIdx.map { case (v, c) => d2(v, newCents(c)) }
    assert(newIdx.length == nVec)
    assert(math.abs(rb - oldRes.sum / oldRes.length) < 5e-6, "resid_before")
    assert(math.abs(ra - newRes.sum / newRes.length) < 5e-6, "resid_after")
    assert(kNew == newCents.size.toLong)
    // deterministic: the report is a pure function of the layouts
    val again = run("q_ivf_refit").collect()
    assert(again.map(_.toSeq).toSeq == row.map(_.toSeq).toSeq)
  }
}

/** Corpus datasheet: every metric replays from raw text or the
  * standalone operator it composes.
  */
class DatasheetSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("datasheet metrics replay from raw text and compose the gopher filter") {
    val got = run("q_corpus_datasheet").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val n = docs.length.toLong
    assert(got("m01_n_docs") == n)
    val nTok = docs.map(_._3.split(" ", -1).length.toLong).sum
    assert(got("m02_n_tokens") == nTok)
    assert(got("m03_mean_doc_tokens_cpm") == nTok * 100 / n)
    assert(got("m04_dup_docs") == n - docs.map(_._3).distinct.length)
    // composition: the keep rate IS q_quality_gopher's keep rate
    val keeps = run("q_quality_gopher").collect()
      .count(_.getBoolean(8)).toLong
    assert(got("m05_gopher_keep_pm") == keeps * 1000 / n)
    def simpson(groups: Map[String, Long]): Long = {
      val sq = groups.values.map(g => BigInt(g) * g).sum
      (sq * 1000000 / (BigInt(n) * n)).toLong
    }
    assert(got("m06_lang_simpson_ppm") ==
      simpson(docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap))
    assert(got("m07_source_simpson_ppm") ==
      simpson(docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap))
  }
}

/** Embedding-drift monitor: the drift cosine replays from the rounded
  * per-dimension period means (the q_embed_centroid interchange rule).
  */
class EmbedDriftSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-label and overall drift cosines replay from rounded means") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def meanVec(vs: Array[Array[Float]]): Array[Double] = {
      val dim = vs.head.length
      Array.tabulate(dim) { p =>
        r(vs.map(_(p).toDouble).sum / vs.length, 4)
      }
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val labels = vecs.map(_._2).distinct.toSeq :+ -1L
    val expected = labels.map { lbl =>
      val members =
        if (lbl == -1L) vecs else vecs.filter(_._2 == lbl)
      val a = members.filter(_._1 % 2 == 0).map(_._3)
      val b = members.filter(_._1 % 2 == 1).map(_._3)
      lbl -> (a.length.toLong, b.length.toLong,
        r(cos(meanVec(a), meanVec(b)), 6))
    }.toMap
    val got = run("q_embed_drift").collect()
      .map(r0 => r0.getLong(0) ->
        (r0.getLong(1), r0.getLong(2), r0.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (lbl, (na, nb, dc)) =>
      val (gna, gnb, gdc) = got(lbl)
      assert(gna == na && gnb == nb, s"label $lbl counts")
      assert(math.abs(gdc - dc) < 2e-6, s"label $lbl cos: $gdc vs $dc")
    }
    // the synthetic corpus is zero-centered noise, so period means are
    // tiny and their cosine is unconstrained — pin only validity (a
    // production corpus with a real embedding model reads ~1 here)
    assert(got(-1L)._3 >= -1.0 && got(-1L)._3 <= 1.0)
    assert(got.size == vecs.map(_._2).distinct.length + 1)
  }
}

/** Incremental datasheet: partial-union equals the batch recompute. */
class DatasheetPartialsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("merged partials equal the batch datasheet; dup estimate within 5%") {
    val inc = run("q_datasheet_partials").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = run("q_corpus_datasheet").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every exact metric is EQUAL — merging partials loses nothing
    Seq("m01_n_docs", "m02_n_tokens", "m03_mean_doc_tokens_cpm",
      "m05_gopher_keep_pm", "m06_lang_simpson_ppm",
      "m07_source_simpson_ppm").foreach { m =>
      assert(inc(m) == batch(m), s"$m: ${inc(m)} vs ${batch(m)}")
    }
    // the one approximate metric: the HLL distinct behind the dup
    // burden sits within the sketch's documented band
    val nDocs = batch("m01_n_docs")
    val exactDistinct = nDocs - batch("m04_dup_docs")
    val estDistinct = nDocs - inc("m04_dup_docs_est")
    assert(math.abs(estDistinct - exactDistinct).toDouble
      <= 0.05 * exactDistinct, s"est $estDistinct vs exact $exactDistinct")
    // the layout is genuinely multi-batch (the merge is exercised)
    val nb = text.Quality.datasheetPartials(spark, sf)
      .select(col("batch")).distinct().count()
    assert(nb > 1)
  }
}

/** DoReMi-style mixture reweighting: exact BigInt replay of the
  * multiplicative-weights iterate.
  */
class DoremiSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("the 8-step iterate replays exactly; above-reference domains gain weight") {
    val got = run("q_doremi_weights").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    val stop = graft.functions.GraftText.Stopwords.toSet
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val scores = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.map(_._2.split(" ", -1))
      val nTok = toks.map(_.length.toLong).sum
      val nStop = toks.map(_.count(stop)).sum.toLong
      src -> (nTok, nStop * 1000 / nTok)
    }
    val nd = scores.size.toLong
    var w: Map[String, BigInt] =
      scores.map { case (s0, _) => s0 -> BigInt(1000000L / nd) }
    for (_ <- 1 to text.TextOps.DoremiIters) {
      val ref = w.map { case (s0, wv) => wv * scores(s0)._2 }.sum /
        w.values.sum
      val u = w.map { case (s0, wv) =>
        s0 -> wv * (BigInt(1000000) +
          text.TextOps.DoremiEtaPm * (BigInt(scores(s0)._2) - ref))
      }
      val tot = u.values.sum
      w = u.map { case (s0, uv) => s0 -> uv * 1000000 / tot }
    }
    scores.foreach { case (s0, (nt, sc)) =>
      val (gnt, _, gsc, gw) = got(s0)
      assert(gnt == nt && gsc == sc, s"$s0 inputs")
      assert(BigInt(gw) == w(s0), s"$s0: got $gw expected ${w(s0)}")
    }
    // weight mass conserved up to per-domain floor loss
    assert(got.values.map(_._4).sum <= 1000000L)
    // the iterate moved: with a real score spread, the top-score
    // domain ends above uniform and the bottom one below
    if (scores.values.map(_._2).toSet.size > 1) {
      val top = scores.maxBy(_._2._2)._1
      val bot = scores.minBy(_._2._2)._1
      assert(got(top)._4 > 1000000L / nd, "top domain did not gain")
      assert(got(bot)._4 < 1000000L / nd, "bottom domain did not shrink")
    }
  }
}

/** Packing-efficiency report: replays from the seq-pack output. */
class PackEfficiencySpec extends SparkSpec {
  test("per-source fill/overflow/spill replay from q_seq_pack; (all) row totals") {
    val packed = run("q_seq_pack").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(4))) // (source, n_tok, bin)
    val fills = packed.groupBy(t => (t._1, t._3)).view
      .mapValues(_.map(_._2).sum).toMap
    val expected = fills.groupBy(_._1._1).map { case (src, fs) =>
      val vals = fs.values.toSeq
      src -> (vals.size.toLong, vals.sum, vals.size * 2048L,
        vals.sum * 1000 / (vals.size * 2048L),
        vals.count(_ > 2048L).toLong, vals.map(v => math.max(0L, v - 2048L)).sum)
    }
    val got = run("q_pack_efficiency").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    expected.foreach { case (src, e) => assert(got(src) == e, src) }
    // the (all) row is the column-wise total of the per-source rows
    val all = got("(all)")
    assert(all._1 == expected.values.map(_._1).sum)
    assert(all._2 == expected.values.map(_._2).sum)
    assert(all._5 == expected.values.map(_._5).sum)
    assert(all._6 == expected.values.map(_._6).sum)
    // fill is high but bounded sane
    assert(all._4 > 500 && all._4 < 2000)
  }
}

/** Duplicate-cluster size distribution: replays from the labels. */
class ClusterDistSpec extends SparkSpec {
  test("log2 bins replay from cluster labels; singleton mass accounted") {
    val labels = run("q_dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = labels.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTotal = Tables.documents(spark, sf).count()
    def bin(n: Long) = 63 - java.lang.Long.numberOfLeadingZeros(n).toLong
    val exp = sizes.values.groupBy(bin).map { case (b, cs) =>
      b -> (cs.size.toLong, cs.sum)
    } + (0L -> ((nTotal - labels.length, nTotal - labels.length)))
    val got = run("q_dedup_cluster_dist").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (b, (nc, ndoc)) =>
      assert(got(b)._1 == nc && got(b)._2 == ndoc, s"bin $b")
      assert(got(b)._3 == ndoc * 1000 / nTotal, s"bin $b share")
    }
    // the corpus's deliberate duplicates produce at least one real cluster
    assert(got.keySet.exists(_ >= 1))
    // doc mass conserved across bins
    assert(got.values.map(_._2).sum == nTotal)
  }
}

/** Benchmark-side contamination report: pair-table identity with the
  * corpus-side view (both aggregate the same hits).
  */
class ContaminationReportSpec extends SparkSpec {
  test("report and q_decontaminate agree on the pair table") {
    val rep = run("q_contamination_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val dec = run("q_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rep.nonEmpty && dec.nonEmpty)
    // sides: bdocs are the %97 split, corpus docs are not
    assert(rep.forall(_._1 % 97 == 0))
    assert(dec.forall(_._1 % 97 != 0))
    // both views sum the SAME pair table
    assert(rep.map(_._2).sum == dec.map(_._3).sum, "pair-count identity")
    // the worst overlap is the same number seen from either side
    assert(rep.map(_._4).max == dec.map(_._2).max)
    // leakage consistency: contaminated corpus docs exist iff some
    // benchmark doc reports a contaminating neighbor
    assert(rep.exists(_._5) == dec.exists(_._4))
    assert(rep.forall(r => r._5 == (r._3 > 0)))
    // the fixture leaks by construction (exact dups cross the split)
    assert(rep.exists(_._5))
  }
}

/** Mixture plan: exact replay from the published weights. */
class MixturePlanSpec extends SparkSpec {
  test("allocations and epoch counts replay from q_doremi_weights") {
    val w = run("q_doremi_weights").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    val got = run("q_mixture_plan").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    assert(got.keySet == w.keySet)
    val budget = BigInt(text.Corpus.BudgetTokens)
    w.foreach { case (src, (nTok, wppm)) =>
      val (gTok, gW, alloc, epochs, up) = got(src)
      assert(gTok == nTok && gW == wppm, src)
      val expAlloc = (budget * wppm / 1000000).toLong
      assert(alloc == expAlloc, s"$src alloc")
      val expEpochs = (BigInt(expAlloc) * 100 / nTok).toLong
      assert(epochs == expEpochs, s"$src epochs")
      assert(up == (expEpochs > 100), src)
    }
    // floor allocations never exceed the budget
    assert(got.values.map(_._3).sum <= text.Corpus.BudgetTokens)
  }
}

/** Curriculum schedule: stages track the fluency buckets, positions
  * are dense per (stage, shard), coverage is total.
  */
class CurriculumSpec extends SparkSpec {
  test("stages mirror buckets; per-shard positions dense; every doc scheduled") {
    val buckets = run("q_perplexity_buckets").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val got = run("q_curriculum_order").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == buckets.keySet, "coverage")
    val stageOf = Map("head" -> 1L, "middle" -> 2L, "tail" -> 3L)
    got.foreach { case (id, st, _, _) =>
      assert(st == stageOf(buckets(id)), s"doc $id") }
    // positions are dense 1..n within every (stage, shard)
    got.groupBy(t => (t._2, t._3)).foreach { case (k, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.size).toSeq, s"$k")
    }
    // head and tail always fire; middle can be legitimately empty at
    // tiny SFs (top-heavy tie mass — the PerplexityBucketsSpec note)
    val stages = got.map(_._2).toSet
    assert(stages.subsetOf(Set(1L, 2L, 3L)) &&
      stages.contains(1L) && stages.contains(3L))
    assert(got.map(_._3).distinct.length > 10)
  }
}

/** Index-served retrieval: equals the rescan form; never reads text. */
class IndexSearchSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("index-served BM25 equals q_bm25 row-for-row and scans only the index") {
    val a = run("q_bm25").collect().map(_.toSeq).toSeq
    val b = run("q_index_search").collect().map(_.toSeq).toSeq
    assert(a == b, s"${a.take(2)} vs ${b.take(2)}")
    assert(a.nonEmpty)
    // the serving plan touches ONLY the written layouts — the corpus
    // text is never re-tokenized (documents.parquet absent)
    val p = run("q_index_search").queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("documents.parquet"), p)
    assert(p.contains("text_index") && p.contains("doc_stats"), p)
    // the postings read is pruned to the query terms (pushed filter)
    assert(p.contains("PushedFilters: [In(term"), p)
  }
}

/** Incremental index maintenance: the delta's postings agree with the
  * batch-built index at every (term, doc_id).
  */
class IndexAppendSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("delta postings audit all-true; rows match the delta tokenization") {
    val rows = run("q_index_append").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3), rows.filterNot(_._3).take(3).mkString(";"))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 17 === 3)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(t => (t, r.getLong(0))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(t => t._1 -> t._2).toMap == expected)
  }

  test("the postings index never shuffles: semi-prefilter and outer join both broadcast") {
    // the preserved side of a LeftOuter can't be a broadcast build
    // side, so the plan must prefilter the index (broadcast LEFT SEMI)
    // and broadcast the thin survivors — never sort-merge/shuffle the
    // full postings index
    val p = run("q_index_append").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val semi = "LeftSemi".r.findAllIn(p).length
    assert(semi >= 1, s"expected a broadcast LEFT SEMI prefilter:\n$p")
  }
}

/** Embedding outliers: flags replay from the written IVF layouts. */
class EmbedOutlierSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("per-cell 2-sigma flags replay within a boundary tolerance") {
    val idx = sim.Similarity.ivfIndex(spark, sf)
      .select(col("vec_id"), col("cell"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val cents = sim.Similarity.ivfCentroids(spark, sf)
      .select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0).toLong -> r.getSeq[Double](1).toArray).toMap
    def d2Of(v: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) {
        val t = v(i).toDouble - c(i); acc += t * t; i += 1
      }
      acc
    }
    val d2s = idx.map { case (id, cell, e) => (id, cell, d2Of(e, cents(cell))) }
    val byCell = d2s.groupBy(_._2)
    val margins = d2s.flatMap { case (id, cell, d2) =>
      val ds = byCell(cell).map(_._3)
      if (ds.length < 8) None else {
        val mu = ds.sum / ds.length
        val sd = math.sqrt(ds.map(x => (x - mu) * (x - mu)).sum / (ds.length - 1))
        Some(id -> (d2 - (mu + 2.0 * sd)))
      }
    }.toMap
    val got = run("q_embed_outliers").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "no outliers flagged at this SF")
    // every flagged row is genuinely at/above the replayed threshold,
    // and every clearly-over row is flagged (1e-6 boundary band for
    // FP summation-order differences)
    got.foreach(id => assert(margins(id) > -1e-6, s"vec $id"))
    margins.foreach { case (id, m) =>
      if (m > 1e-6) assert(got.contains(id), s"vec $id missed")
    }
  }
}

/** Wrapped packing: exact 2048 fills, zero spill, doc conservation. */
class PackWrapSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("every non-final bin holds exactly 2048 tokens; docs partition exactly") {
    val segs = run("q_pack_wrap").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(segs.nonEmpty)
    // per-doc conservation: segment lengths partition [0, n_tok)
    val docs = run("q_seq_pack").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    segs.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.map(_._5).sum == docs(id), s"doc $id total")
      var off = 0L
      sorted.foreach { s0 =>
        assert(s0._4 == off, s"doc $id offset"); off += s0._5
      }
    }
    // bin fills: exactly 2048 everywhere except each source's last bin
    val fills = segs.groupBy(t => (t._2, t._3)).view
      .mapValues(_.map(_._5).sum).toMap
    val lastBin = fills.keys.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    fills.foreach { case ((src, bin), f) =>
      if (bin < lastBin(src)) assert(f == 2048L, s"($src, $bin) = $f")
      else assert(f <= 2048L, s"($src, $bin) last = $f")
    }
    // exact segment-count law: a doc emits one segment per boundary
    // it crosses plus one — replayed from the seq-pack running sum
    // (at sf0.001 every source fits one bin, so nothing wraps and
    // every count is 1; the law still certifies that)
    val runs = run("q_seq_pack").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    segs.groupBy(_._1).foreach { case (id, ss) =>
      val (nTok, running) = runs(id)
      val s0 = running - nTok
      val expSegs = ((s0 + nTok - 1) / 2048 - s0 / 2048 + 1).toInt
      assert(ss.length == expSegs, s"doc $id segments")
    }
  }
}
