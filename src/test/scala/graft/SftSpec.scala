package graft

import org.apache.spark.sql.functions._

/** SFT / post-training assembly family (text.Sft). The DuckDB oracle
  * hash-checks all four queries end to end; these specs pin the
  * properties the oracle can't state: shuffle-order independence of
  * the ordered render, the mask-accounting identities, the dedup
  * keep-law, and the pair-selection law.
  */
class SftSpec extends SparkSpec {

  test("render: role alternation + template accounting identities") {
    val r = run("q_sft_render").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (nt, nu, na) = (row.getAs[Long]("n_turns"),
        row.getAs[Long]("n_user"), row.getAs[Long]("n_assistant"))
      assert(nt == nu + na)
      // user speaks first, roles alternate: user count leads by 0 or 1
      assert(nu - na == nt % 2)
    }
  }

  test("render chars decompose per-turn: 24 + role + content chars") {
    // independent recompute off the turn table — catches a template
    // drift (sentinel, separator, ordering) the alternation test misses
    val expected = text.Sft.turns(spark, sf)
      .groupBy(col("conv_id"))
      .agg(sum(length(col("content")) + length(col("role")) + lit(24))
        .as("chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    run("q_sft_render").collect().foreach { row =>
      assert(row.getAs[Long]("render_chars") ==
        expected(row.getAs[Long]("conv_id")))
    }
  }

  test("render fingerprint is shuffle-order independent") {
    // the ordered-concat is array_sort(collect_list(...)) — this is
    // the pin that a refactor to a bare collect_list (order =
    // whatever the shuffle delivered) fails
    val base = run("q_sft_render").collect()
      .map(r => r.getAs[Long]("conv_id") -> r.getAs[String]("render_fp"))
      .toMap
    val alt = text.Sft.turns(spark, sf).repartition(13)
      .withColumn("turn", concat(lit("<|im_start|>"), col("role"),
        lit("\n"), col("content"), lit("<|im_end|>"), lit("\n")))
      .groupBy(col("conv_id"))
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(rn, turn))), x -> x.turn)"))
        .as("render"))
      .select(col("conv_id"), md5(col("render").cast("binary")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(alt == base)
  }

  test("mask: trainable strictly inside total, per-mille bounded") {
    val r = run("q_sft_mask").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (tot, tr, pm) = (row.getAs[Long]("total_tokens"),
        row.getAs[Long]("trainable_tokens"), row.getAs[Long]("mask_pm"))
      assert(tr < tot, "role headers are never trainable")
      assert(pm == tr * 1000 / tot && pm < 1000)
      // a conversation with an assistant turn has trainable tokens; a
      // single-turn (user-only) conversation legitimately has zero
      if (row.getAs[Long]("n_turns") >= 2) assert(tr > 0 && pm > 0)
      // turn sentinels: total >= 3 tokens/turn (1 content + 2 markers)
      assert(tot >= 3 * row.getAs[Long]("n_turns"))
    }
  }

  test("prompt dedup: groups partition the conversations; kept = max turns") {
    val out = run("q_sft_prompt_dedup").collect()
    val nConvs = text.Sft.turns(spark, sf)
      .select(col("conv_id")).distinct().count()
    assert(out.map(_.getAs[Long]("n_convs")).sum == nConvs,
      "every conversation lands in exactly one prompt group")
    // keep-law: no conversation in the group has more turns than the
    // kept one, and equal-turn ties resolve to the smallest conv_id
    val turnsOf = text.Sft.turns(spark, sf)
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n"), max(when(col("rn") === 1,
        md5(col("content").cast("binary")))).as("fp"))
      .collect()
      .groupBy(_.getAs[String]("fp"))
      .view.mapValues(_.map(r =>
        (r.getAs[Long]("conv_id"), r.getAs[Long]("n")))).toMap
    out.foreach { row =>
      val members = turnsOf(row.getAs[String]("prompt_fp"))
      val kept = (row.getAs[Long]("kept_turns"), row.getAs[Long]("kept_conv"))
      assert(members.map(m => (m._2, m._1)).max(
        Ordering.Tuple2(Ordering.Long, Ordering.Long.reverse)) ==
        (kept._1, kept._2))
      assert(row.getAs[Long]("n_dropped") == members.size - 1)
    }
  }

  test("pack: bins conserve the deduped corpus; greedy law; fp composes") {
    val bins = run("q_sft_pack").collect()
    assert(bins.nonEmpty)
    // the packed corpus IS the deduped corpus: conv and token totals
    // equal the prompt-dedup keep set's (chain-closure accounting)
    val keptTokens = run("q_sft_prompt_dedup")
      .select(col("kept_conv").as("conv_id"))
      .join(run("q_sft_mask"), Seq("conv_id"))
      .agg(count(lit(1)), sum(col("total_tokens")),
        sum(col("trainable_tokens")))
      .collect().head
    assert(bins.map(_.getAs[Long]("n_convs")).sum == keptTokens.getLong(0))
    assert(bins.map(_.getAs[Long]("bin_tokens")).sum == keptTokens.getLong(1))
    assert(bins.map(_.getAs[Long]("trainable_tokens")).sum ==
      keptTokens.getLong(2))
    // greedy-by-conv-order law: bins tile the conv_id order (a bin's
    // last conv precedes the next bin's first); bin ids strictly
    // increase but need NOT be dense — a conversation longer than a
    // window legitimately skips the bins it spans
    val ordered = bins.sortBy(_.getAs[Long]("bin"))
    ordered.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("last_conv") < b.getAs[Long]("first_conv"))
      case _ =>
    }
    ordered.foreach { r =>
      assert(r.getAs[Long]("n_convs") > 0)
      assert(r.getAs[Long]("trainable_tokens") <= r.getAs[Long]("bin_tokens"))
      assert(r.getAs[Long]("first_conv") <= r.getAs[Long]("last_conv"))
    }
    // overfill law: a bin's members START inside it — every bin's
    // cumulative start offset lands in [bin*2048, (bin+1)*2048)
    val cum = ordered.scanLeft(0L)(_ + _.getAs[Long]("bin_tokens")).init
    ordered.zip(cum).foreach { case (r, start) =>
      assert(start / 2048 == r.getAs[Long]("bin"),
        s"bin ${r.getAs[Long]("bin")} starts at $start")
    }
  }

  test("best-of-n: bon_1 = pool mean; curve is monotone and capped by pool max") {
    val rows = run("q_best_of_n").collect()
    assert(rows.nonEmpty)
    // independent pool replay: the same hash order, cap 16, micro
    // quantization — then the estimator's identities
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(col("lang"), col("source"))
    val pool = text.TextOps.qualityScored(spark, sf)
      .withColumn("s6i",
        floor(col("score") * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("samp", row_number().over(grp.orderBy(
        md5(concat(col("doc_id").cast("string"), lit(":bon")).cast("binary")),
        col("doc_id"))))
      .filter(col("samp") <= 16)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("k"), sum(col("s6i")).as("s_sum"),
        max(col("s6i")).as("s_max"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("k"), r.getAs[Long]("s_sum"), r.getAs[Long]("s_max")))
      .toMap
    rows.foreach { r =>
      val (k, sSum, sMax) = pool((r.getAs[String]("lang"), r.getAs[String]("source")))
      assert(r.getAs[Long]("pool_k") == k)
      // bon_1 is the half-up pool mean in micro units, exactly
      assert(r.getAs[Long]("bon_1_micro") == (2 * sSum + k) / (2 * k))
      // monotone selection curve, capped by the pool max
      val curve = Seq(1, 2, 4, 8).flatMap(n =>
        Option(r.getAs[java.lang.Long](s"bon_${n}_micro")).map(_.toLong))
      assert(curve == curve.sorted, s"BoN curve not monotone: $curve")
      curve.foreach(v => assert(v <= sMax))
      // best-of-k with the whole pool selected IS the max
      if (k == 8) assert(r.getAs[Long]("bon_8_micro") == sMax)
    }
  }

  test("pass@k: exact binomial replay, monotone curve, boundary identities") {
    val rows = run("q_pass_at_k").collect()
    assert(rows.nonEmpty)
    def binom(n: Long, k: Int): BigInt =
      if (n < k) BigInt(0)
      else (BigInt(n - k + 1) to BigInt(n)).product /
        (BigInt(1) to BigInt(k)).product
    var sawZero, sawInterior, sawFull = false
    rows.foreach { r =>
      val n = r.getAs[Long]("pool_n")
      val c = r.getAs[Long]("n_pass")
      assert(c >= 0 && c <= n)
      if (c == 0) sawZero = true
      else if (c == n) sawFull = true
      else sawInterior = true
      val curve = Seq(1, 2, 4, 8).flatMap { k =>
        Option(r.getAs[java.lang.Long](s"pak_${k}_micro")).map(_.toLong)
          .map { got =>
            // exact replay of the unbiased estimator in BigInt, with
            // the same half-up integer division
            val cnk = binom(n, k)
            val miss = binom(n - c, k)
            val expect =
              ((BigInt(2000000) * (cnk - miss) + cnk) / (cnk * 2)).toLong
            assert(got == expect, s"n=$n c=$c k=$k: $got vs $expect")
            got
          }
      }
      // monotone in k; boundary identities
      assert(curve == curve.sorted, s"pass@k curve not monotone: $curve")
      if (c == 0) curve.foreach(v => assert(v == 0L))
      if (c == n) curve.foreach(v => assert(v == 1000000L))
      // pass@1 is exactly the half-up pass rate c/n
      assert(curve.head == (2000000L * c + n) / (2 * n))
    }
    // the threshold must keep every estimator branch live at test SF
    assert(sawZero && sawInterior && sawFull,
      s"branches: zero=$sawZero interior=$sawInterior full=$sawFull")
  }

  test("sft export: manifest conserves the pack; whole bins; one file per shard") {
    val man = run("q_sft_export").collect()
    assert(man.nonEmpty)
    val packs = run("q_sft_pack").collect()
    // conservation against the pack table: convs / tokens / trainable
    assert(man.map(_.getAs[Long]("n_convs")).sum ==
      packs.map(_.getAs[Long]("n_convs")).sum)
    assert(man.map(_.getAs[Long]("n_tokens")).sum ==
      packs.map(_.getAs[Long]("bin_tokens")).sum)
    assert(man.map(_.getAs[Long]("trainable_tokens")).sum ==
      packs.map(_.getAs[Long]("trainable_tokens")).sum)
    assert(man.map(_.getAs[Long]("n_seqs")).sum == packs.length.toLong,
      "every bin lands in exactly one shard")
    // shard-count law
    val nsh = ((packs.map(_.getAs[Long]("bin_tokens")).sum +
      text.Corpus.ShardTokenBudget - 1) / text.Corpus.ShardTokenBudget).max(1L)
    assert(man.forall { r =>
      val s0 = r.getAs[Long]("shard"); s0 >= 0 && s0 < nsh })
    // file-count law: one parquet file per occupied shard dir
    val root = SessionResources.artifactDir(spark, sf, "sft_shards")
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("shard=")).toSeq
    assert(dirs.size == man.length)
    dirs.foreach { p =>
      val files = java.nio.file.Files.list(p).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files == 1, s"$p has $files files")
    }
  }

  test("pref pairs: chosen beats rejected, rows distinct, groups >= 2") {
    val r = run("q_pref_pairs").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("chosen_doc") != row.getAs[Long]("rejected_doc"))
      assert(row.getAs[Double]("chosen_score") >=
        row.getAs[Double]("rejected_score"))
      assert(row.getAs[Double]("margin") >= 0.0)
      assert(row.getAs[Long]("n_docs") >= 2)
    }
    // pair count = number of (lang, source) cells with >= 2 docs
    val cells = Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source")).count()
      .filter(col("count") >= 2).count()
    assert(r.length == cells)
  }
}

/** In-context-pretraining ordering (q_icp_order): the cluster-major
  * order must realize EXACTLY its adjacency law, and beat the
  * shuffled twin.
  */
class IcpOrderSpec extends SparkSpec {

  test("icp adjacency law: related pairs = docs minus groups; beats shuffled") {
    val rows = run("q_icp_order").collect()
      .map(r => r.getAs[String]("order_kind") -> r).toMap
    val icp = rows("icp"); val shf = rows("shuffled")
    // shard = f(grp) and within-shard order is grp-major, so every
    // group's members are contiguous: related adjacencies = n_docs −
    // distinct groups, exactly
    val labels = dedup.Dedup.clusterLabels(spark, sf)
    val nGroups = Tables.documents(spark, sf).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_keeper"), col("doc_id")).as("grp"))
      .distinct().count()
    assert(icp.getAs[Long]("related_pairs") ==
      icp.getAs[Long]("n_docs") - nGroups)
    // strict beats-shuffled only when a multi-member group exists: on
    // a corpus whose clustering is all singletons both orderings give
    // related_pm = 0 and strict > would flake on data, not code
    if (nGroups < icp.getAs[Long]("n_docs"))
      assert(icp.getAs[Long]("related_pm") > shf.getAs[Long]("related_pm"),
        s"icp ${icp.getAs[Long]("related_pm")} vs shuffled " +
          s"${shf.getAs[Long]("related_pm")}")
    else
      assert(icp.getAs[Long]("related_pm") >= shf.getAs[Long]("related_pm"))
    // both orders serialize the same corpus: doc/token accounting equal
    assert(icp.getAs[Long]("n_docs") == shf.getAs[Long]("n_docs"))
    // pair sanity: related-and-co-windowed never exceeds related
    Seq(icp, shf).foreach { r =>
      assert(r.getAs[Long]("related_window_pairs") <=
        r.getAs[Long]("related_pairs"))
      assert(r.getAs[Long]("window_pairs") <= r.getAs[Long]("adj_pairs"))
    }
  }
}
