package graft

import org.apache.spark.sql.functions._

/** Agentic tool-use trajectory family (text.Sft: q_tool_mask /
  * q_tool_pack / q_tool_export). The DuckDB oracle hash-checks all
  * three end to end; these specs pin what the oracle can't state: the
  * mask-conservation identity, the role/lag law on a DESIGNED
  * synthetic conversation (consecutive calls, a trailing call, a
  * call-free conversation — shapes the corpus doesn't isolate), the
  * agentic-subset filter, disk-level shard wholeness, and the
  * thin-exchange plan shape (text never shuffles in the mask path).
  */
class ToolSpec extends SparkSpec {

  test("mask conservation: total = trainable + masked classes + assistant headers") {
    val r = run("q_tool_mask").collect()
    assert(r.nonEmpty)
    var sawTool = false
    r.foreach { row =>
      val tot = row.getAs[Long]("total_tokens")
      val tr = row.getAs[Long]("trainable_tokens")
      val mu = row.getAs[Long]("masked_user_tokens")
      val mt = row.getAs[Long]("masked_tool_tokens")
      val na = row.getAs[Long]("n_assistant")
      // every token is exactly one of: trainable (assistant content +
      // im_end + call span), masked user turn, masked tool-result
      // turn, or a masked assistant HEADER (1/assistant turn)
      assert(tot == tr + mu + mt + na,
        s"conv ${row.getAs[Long]("conv_id")}: $tot != $tr+$mu+$mt+$na")
      assert(row.getAs[Long]("mask_pm") == tr * 1000 / tot)
      // role accounting closes
      assert(row.getAs[Long]("n_turns") == row.getAs[Long]("n_user") +
        na + row.getAs[Long]("n_tool"))
      if (row.getAs[Long]("n_tool") > 0) sawTool = true
      // a tool result can only follow a call
      assert(row.getAs[Long]("n_tool") <= row.getAs[Long]("n_calls"))
    }
    assert(sawTool, "corpus exercises the tool-result role")
  }

  test("tool turns trail calls exactly: n_calls - n_tool = trailing-call convs") {
    // per conversation the difference is 0 or 1 (a call on the FINAL
    // turn gets no result turn); corpus-wide the sum of differences
    // equals the count of conversations whose last turn is a call —
    // recomputed independently from the turn table
    val m = run("q_tool_mask").collect()
    m.foreach { row =>
      val d = row.getAs[Long]("n_calls") - row.getAs[Long]("n_tool")
      assert(d == 0L || d == 1L)
    }
    val turns = text.Sft.toolTurnsOf(text.Sft.toolKeyed(spark, sf))
    val trailing = turns
      .groupBy(col("conv_id"))
      .agg(max(col("rn")).as("last_rn"),
        max(when(col("is_call"), col("rn"))).as("last_call_rn"))
      .filter(col("last_call_rn") === col("last_rn"))
      .count()
    assert(m.map(r => r.getAs[Long]("n_calls") - r.getAs[Long]("n_tool")).sum
      == trailing)
  }

  test("role law on a designed conversation; agentic filter drops call-free convs") {
    val s = spark
    import s.implicits._
    // conv 10 drives every edge the corpus doesn't isolate:
    // consecutive calls (rn 2 and 4), an odd-position action event
    // that must stay 'user' (rn 7), and a TRAILING call (rn 8, no
    // result turn). conv 20 is call-free (plain SFT) and must be
    // dropped by the agentic-subset filter. props = 'p q' (2 tokens),
    // content = event_type + ' p q' (3 tokens).
    val types10 = Seq("view", "click", "error", "purchase", "view",
      "signup", "click", "purchase")
    val types20 = Seq("view", "error")
    val rows =
      types10.zipWithIndex.map { case (t, i) => (10L, i.toLong, i.toLong, t) } ++
      types20.zipWithIndex.map { case (t, i) => (20L, i.toLong, 100L + i, t) }
    val keyed = rows.toDF("conv_id", "ts", "event_id", "event_type")
      .withColumn("props", lit("p q"))
      .withColumn("content", concat(col("event_type"), lit(" p q")))
    val turns = text.Sft.toolTurnsOf(keyed)
    val roles10 = turns.filter(col("conv_id") === 10)
      .orderBy(col("rn")).select(col("role"), col("is_call"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(roles10 == Seq(("user", false), ("assistant", true),
      ("tool", false), ("assistant", true), ("tool", false),
      ("assistant", false), ("user", false), ("assistant", true)))
    val roles20 = turns.filter(col("conv_id") === 20)
      .orderBy(col("rn")).select(col("role")).collect().map(_.getString(0))
    assert(roles20.toSeq == Seq("user", "assistant"))
    // hand-computed mask accounting for conv 10 (see q_tool_mask's
    // convention): user 5/0, call 9/8, tool 5/0, plain assistant 5/4
    val mask = text.Sft.toolMaskOf(turns
        .withColumn("n_tok", size(split(col("content"), " ")).cast("long"))
        .withColumn("props_tok", size(split(col("props"), " ")).cast("long")))
      .collect().map(r => r.getAs[Long]("conv_id") -> r).toMap
    val m10 = mask(10L)
    assert(m10.getAs[Long]("total_tokens") == 52L)
    assert(m10.getAs[Long]("trainable_tokens") == 28L)
    assert(m10.getAs[Long]("masked_user_tokens") == 10L)
    assert(m10.getAs[Long]("masked_tool_tokens") == 10L)
    assert(m10.getAs[Long]("n_calls") == 3L && m10.getAs[Long]("n_tool") == 2L)
    assert(m10.getAs[Long]("mask_pm") == 538L) // 28000 div 52
    // the agentic filter: conv 20 (0 calls) never enters the
    // trajectory corpus; conv 10 does, at its full token cost
    val packed = text.Sft.toolPackedOf(turns).collect()
    assert(packed.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L))
    assert(packed.head.getAs[Long]("n_tok") == 52L)
  }

  test("pack conserves the agentic subset; export conserves the pack; whole shards on disk") {
    val mask = run("q_tool_mask").collect()
    val agentic = mask.filter(_.getAs[Long]("n_calls") >= 1)
    val packs = run("q_tool_pack").collect()
    assert(packs.map(_.getAs[Long]("n_convs")).sum == agentic.length.toLong)
    assert(packs.map(_.getAs[Long]("bin_tokens")).sum ==
      agentic.map(_.getAs[Long]("total_tokens")).sum)
    assert(packs.map(_.getAs[Long]("trainable_tokens")).sum ==
      agentic.map(_.getAs[Long]("trainable_tokens")).sum)
    assert(packs.map(_.getAs[Long]("masked_tool_tokens")).sum ==
      agentic.map(_.getAs[Long]("masked_tool_tokens")).sum)
    // overfill start law over the bin sequence
    val ordered = packs.sortBy(_.getAs[Long]("bin"))
    val cum = ordered.scanLeft(0L)(_ + _.getAs[Long]("bin_tokens")).init
    ordered.zip(cum).foreach { case (r, start) =>
      assert(start / 2048 == r.getAs[Long]("bin")) }
    val man = run("q_tool_export").collect()
    assert(man.map(_.getAs[Long]("n_convs")).sum ==
      packs.map(_.getAs[Long]("n_convs")).sum)
    assert(man.map(_.getAs[Long]("n_tokens")).sum ==
      packs.map(_.getAs[Long]("bin_tokens")).sum)
    assert(man.map(_.getAs[Long]("masked_tool_tokens")).sum ==
      packs.map(_.getAs[Long]("masked_tool_tokens")).sum)
    assert(man.map(_.getAs[Long]("n_seqs")).sum == packs.length.toLong,
      "every window lands in exactly one shard")
    // disk law: one parquet file per occupied shard dir
    val root = SessionResources.artifactDir(spark, sf, "tool_shards")
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

  test("plan: the mask path's exchange is thin — no text below any shuffler") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Join, Sort, Window => LWindow}
    val o = run("q_tool_mask").queryExecution.optimizedPlan
    val shufflers = o.collect {
      case n @ (_: Join | _: Aggregate | _: LWindow | _: Sort) => n }
    assert(shufflers.nonEmpty)
    // content/props collapse to token counts MAP-SIDE; every
    // shuffle-inducing node moves only ids + event_type + two ints
    shufflers.foreach { n =>
      val dirty = n.children.flatMap(_.output.map(_.name))
        .filter(c => c == "content" || c == "props" || c == "text")
      assert(dirty.isEmpty, n.nodeName + " consumes: " + dirty.mkString(","))
    }
  }
}
