package graft

import org.apache.spark.sql.functions._

/** Invariants of the interleaved multimodal family (q_mm_interleave /
  * q_mm_pack) — the laws the DuckDB hash oracle cannot state as
  * equations: token conservation, stream telescoping, and the
  * pack-vs-interleave accounting identity.
  */
class MmSpec extends SparkSpec {

  private lazy val items = run("q_mm_interleave").cache()
  private lazy val pack = run("q_mm_pack").cache()
  private lazy val docs = Tables.documents(spark, sf)
    .select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))

  test("text conservation: per-doc text item tokens sum to the doc's n_tok") {
    val textSum = items.filter(col("item_type") === "text")
      .groupBy("doc_id").agg(sum("item_tokens").as("t"))
    val bad = docs.join(textSum, Seq("doc_id"), "left")
      .filter(coalesce(col("t"), lit(0L)) =!= col("n_tok"))
    assert(bad.count() === 0, bad.collect().mkString(","))
    // every document appears (docs with no images are one whole-text span)
    assert(items.select("doc_id").distinct().count() === docs.count())
  }

  test("image items: one per kept deduped image, each exactly MmImageTokens") {
    val imgItems = items.filter(col("item_type") === "image")
    val kept = media.Multimodal.mmKeptImages(spark, sf)
    assert(imgItems.count() === kept.count())
    assert(imgItems.filter(col("item_tokens") =!=
      media.Multimodal.MmImageTokens).count() === 0)
    // text rows carry the -1 sentinel, image rows a real pool id
    assert(items.filter(col("item_type") === "text" &&
      col("img_id") =!= -1L).count() === 0)
    assert(imgItems.filter(col("img_id") < 0L).count() === 0)
  }

  test("stream telescoping: seq_idx contiguous, out_start + item_tokens = next out_start") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("seq_idx")
    val x = items.withColumn("nxt_start", lead(col("out_start"), 1).over(w))
      .withColumn("nxt_idx", lead(col("seq_idx"), 1).over(w))
    assert(x.filter(col("nxt_start").isNotNull &&
      col("nxt_start") =!= col("out_start") + col("item_tokens"))
      .count() === 0)
    assert(x.filter(col("nxt_idx").isNotNull &&
      col("nxt_idx") =!= col("seq_idx") + 1L).count() === 0)
    assert(items.groupBy("doc_id").agg(min("seq_idx").as("m"))
      .filter(col("m") =!= 1L).count() === 0)
    // head identity: the first item starts the stream
    assert(items.filter(col("seq_idx") === 1L && col("out_start") =!= 0L)
      .count() === 0)
  }

  test("pack accounting: bins conserve the interleaved corpus and obey the start law") {
    // totals: mm = text + image, and both sides agree with the
    // interleave output exactly
    val p = pack.agg(sum("mm_tokens").as("mm"), sum("text_tokens").as("t"),
      sum("image_tokens").as("i"), sum("n_imgs").as("ni"),
      sum("n_docs").as("nd")).head()
    assert(p.getLong(0) === p.getLong(1) + p.getLong(2))
    val it = items.agg(sum("item_tokens")).head().getLong(0)
    assert(p.getLong(0) === it)
    assert(p.getLong(2) === p.getLong(3) * media.Multimodal.MmImageTokens)
    assert(p.getLong(4) === docs.count())
    // bin start law: per (source), bin ids are the overfill packing of
    // per-doc mm costs — non-negative mm_tokens per bin, never empty
    assert(pack.filter(col("n_docs") < 1L).count() === 0)
  }

  test("export manifest conserves the packed corpus, keeps windows whole, matches disk") {
    val man = run("q_mm_export").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(man.nonEmpty && man.length > 1)
    // conservation vs the pack accounting (docs, images, text, mm)
    val p = pack.agg(sum("n_docs"), sum("n_imgs"), sum("text_tokens"),
      sum("mm_tokens")).head()
    assert(man.map(_._3).sum == p.getLong(0))
    assert(man.map(_._4).sum == p.getLong(1))
    assert(man.map(_._5).sum == p.getLong(2))
    assert(man.map(_._6).sum == p.getLong(3))
    // shard-count law over MM tokens
    val nsh = ((p.getLong(3) + text.Corpus.ShardTokenBudget - 1)
      / text.Corpus.ShardTokenBudget).max(1L)
    assert(man.length <= nsh.toInt)
    assert(man.forall { case (s0, _, _, _, _, _) => s0 >= 0 && s0 < nsh })
    // a 2048-token multimodal window never splits across shard files,
    // and each occupied shard dir holds exactly one parquet file
    val root = SessionResources.artifactDir(spark, sf, "mm_shards")
    val layout = spark.read.parquet(root.toString)
      .select(col("source"), col("bin"), col("shard").cast("long"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    assert(layout.nonEmpty)
    layout.groupBy(_._1).foreach { case (k, vs) =>
      assert(vs.map(_._2).distinct.length == 1, s"window $k split") }
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("shard=")).toSeq
    assert(dirs.size == man.length)
    dirs.foreach { d =>
      val files = java.nio.file.Files.list(d).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files == 1, s"$d has $files files")
    }
  }

  test("plan: no shuffle-inducing node ever consumes payload or text") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Join, Sort, Window => LWindow}
    // the accounting tests cache these exact plans; drop the cache or
    // the optimizer substitutes InMemoryRelation and hides the tree
    items.unpersist(blocking = true)
    pack.unpersist(blocking = true)
    Seq("q_mm_interleave", "q_mm_pack").foreach { q =>
      val o = run(q).queryExecution.optimizedPlan
      val shufflers = o.collect {
        case n @ (_: Join | _: Aggregate | _: LWindow | _: Sort) => n }
      assert(shufflers.nonEmpty)
      // the ONE permitted payload-adjacent join: the variant builder's
      // cross join against a broadcast 1-row aggregate (`off` /
      // `n_docs`) — the 1-row side is what broadcasts, the payload
      // side STREAMS, so no payload crosses an exchange there. Every
      // other shuffle-inducing node must be payload/text-free.
      val oneRowAudit = Set("off", "n_docs")
      shufflers.foreach { n =>
        val dirty = n.children.filter(_.output.exists(a =>
          a.name.contains("payload") || a.name == "text"))
        // the child must actually CARRY the 1-row audit columns: an
        // empty output set is a subset of anything, so a zero-column
        // join child must not excuse the other side's shuffle
        val excused = n.isInstanceOf[Join] &&
          n.children.exists(c => c.output.nonEmpty &&
            c.output.map(_.name).toSet.subsetOf(oneRowAudit))
        assert(dirty.isEmpty || excused,
          q + ": " + n.nodeName + " consumes: " +
            dirty.flatMap(_.output.map(_.name)).mkString(","))
      }
      val phys = run(q).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(!phys.contains("CartesianProduct"), q)
    }
  }
}
