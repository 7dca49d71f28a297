package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Persistence across "restart": the reference's only integration-test
  * shape is write, reopen, read back (reference `src/hashtable.rs:382-418`
  * `persistence`; `src/bufferpool.rs:249-267`). The Spark analog: a
  * bucketed warehouse written once is RE-ATTACHED (external table over
  * the existing files) when the catalog no longer knows it — never
  * rewritten. Dropping the external tables here simulates a fresh
  * session's empty in-memory catalog.
  */
class PersistenceSpec extends SparkSpec {

  test("bucketed warehouse re-attaches after the catalog forgets it, without a rewrite") {
    val before = run("q_bucketed_join").collect().toSeq
    assert(before.nonEmpty)

    val dataFiles = Seq("orders_b", "lineitem_b").flatMap { t =>
      Files.list(SessionResources.artifactDir(spark, sf, t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // external tables: dropping the catalog entry must keep the files
    spark.sql(s"DROP TABLE ${sources.Layouts.bucketedTable(spark, sf, "orders_b")}")
    spark.sql(s"DROP TABLE ${sources.Layouts.bucketedTable(spark, sf, "lineitem_b")}")
    assert(dataFiles.forall(Files.exists(_)))

    val after = run("q_bucketed_join").collect().toSeq
    assert(after == before)
    // re-attach, not rebuild: no data file was rewritten
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
    // and the re-attached table still plans the exchange-free bucketed join
    val p = run("q_bucketed_join").queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("near-dup pair layout is written once and re-read, never rebuilt") {
    val before = run("q_dedup_ngram_jaccard").collect().toSeq
    assert(before.nonEmpty)

    val dir = SessionResources.artifactDir(spark, sf, "dedup_neardup_pairs")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val dataFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // the layout keeps NO in-memory handle — every consumer (including
    // a fresh session) consults only the on-disk _SUCCESS marker, so a
    // rerun must re-attach to the written files, not rebuild them
    val after = run("q_dedup_ngram_jaccard").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("fingerprint registry re-attaches for incremental dedup, never rebuilds") {
    val before = run("q_dedup_incremental").collect().toSeq
    assert(before.nonEmpty)

    val dir = SessionResources.artifactDir(spark, sf, "fp_registry")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val dataFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // the delta-dedup contract: every later ingest batch joins against
    // the registry the corpus pass wrote — re-attach, never recompute
    val after = run("q_dedup_incremental").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("span manifest layout is written once; discovery and apply both re-read it") {
    val before = run("q_dedup_spans").collect().toSeq
    assert(before.nonEmpty)

    val dir = SessionResources.artifactDir(spark, sf, "dedup_spans")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val dataFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // both consumers (span listing AND the cleaning pass) must attach
    // to the written manifest, never re-run span discovery
    val after = run("q_dedup_spans").collect().toSeq
    assert(after == before)
    run("q_dedup_spans_apply").collect()
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("PQ codebooks and encoded corpus re-attach without re-fitting") {
    val before = run("q_sim_ann_ivf_pq").collect().toSeq
    assert(before.nonEmpty)

    val dataFiles = Seq("pq_codebooks", "pq_codes").flatMap { t =>
      Files.walk(SessionResources.artifactDir(spark, sf, t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // a rebuild would re-run PqM k-means fits; the RAM-resident code
    // index must re-attach to the written layouts, never re-encode
    val after = run("q_sim_ann_ivf_pq").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("IVF index layout re-attaches without re-fitting the quantizer") {
    val before = run("q_sim_ann_ivf").collect().toSeq
    assert(before.nonEmpty)

    // cell-partitioned: data files live under cell=N subdirectories
    val dataFiles = Seq("ivf_index", "ivf_centroids").flatMap { t =>
      Files.walk(SessionResources.artifactDir(spark, sf, t)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap

    // a rebuild would re-run KMeans and could reassign boundary
    // points to different cells — re-attach must read, never re-fit
    val after = run("q_sim_ann_ivf").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("HLL sketch-partial layout re-attaches; rollups never rescan or rebuild") {
    val before = run("q_hll_partial_union").collect().toSeq
    assert(before.nonEmpty)
    val dir = SessionResources.artifactDir(spark, sf, "hll_partials")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val dataFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap
    val after = run("q_hll_partial_union").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("PCA basis layout re-attaches without re-running the moment pass") {
    val before = run("q_embed_pca").collect().toSeq
    assert(before.nonEmpty)
    val dir = SessionResources.artifactDir(spark, sf, "pca_basis")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val dataFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.nonEmpty)
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap
    // a rebuild would rescan the corpus and re-run the eigensolve —
    // the projection must read the written basis
    val after = run("q_embed_pca").collect().toSeq
    assert(after == before)
    assert(dataFiles.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }

  test("time-travel log and data files survive re-reads; snapshots never rewrite") {
    val before = run("q_time_travel").collect().toSeq
    assert(before.nonEmpty)
    val dir = Paths.get(sources.Layouts.ensureTimeTravel(spark, sf))
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val all = Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(all.nonEmpty)
    val mtimes = all.map(f => f -> Files.getLastModifiedTime(f)).toMap
    val after = run("q_time_travel").collect().toSeq
    assert(after == before)
    assert(all.forall(f => Files.getLastModifiedTime(f) == mtimes(f)))
  }
}

/** Round-11 layouts: moments, quantile histograms, containment pairs —
  * written once, re-read without rebuild (the same ensureLayout
  * contract the earlier layouts pin).
  */
class Round11PersistenceSpec extends SparkSpec {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  test("moment/quantile/containment layouts re-read without a rebuild") {
    // materialize all three
    Seq("q_moments_merge", "q_quantile_partial_union", "q_dedup_containment")
      .foreach(q => run(q).collect())
    Seq("moment_partials", "quantile_partials", "dedup_containment_pairs")
      .foreach { name =>
        val dir = SessionResources.artifactDir(spark, sf, name)
        assert(Files.exists(dir.resolve("_SUCCESS")), name)
        val files = Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        assert(files.nonEmpty, name)
        val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
        Seq("q_moments_merge", "q_quantile_partial_union",
          "q_dedup_containment").foreach(q => run(q).collect())
        assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
          s"$name rebuilt")
      }
  }
}

/** Round-12 layout: the KNN similarity graph. */
class Round12PersistenceSpec extends SparkSpec {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  test("knn graph layout re-attaches; graph reads and appends never rebuild") {
    run("q_sim_knn_graph").collect()
    val dir = SessionResources.artifactDir(spark, sf, "knn_graph")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
    // a graph re-read AND the incremental append both consult only the
    // written files — neither triggers a rebuild
    run("q_sim_knn_graph").collect()
    run("q_sim_knn_append").collect()
    assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
      "knn_graph rebuilt")
  }
}

/** Round-14 layouts: the business-graph edge lists. Four of the
  * bench's six most expensive queries used to re-derive
  * lineitem⋈orders (+ the per-order pair join) per run; since round
  * 11 both edge tables are write-once layouts every graph query
  * re-attaches to.
  */
class Round14PersistenceSpec extends SparkSpec {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  test("graph pair/co-edge layouts re-attach; every graph query reads, never rebuilds") {
    run("q_graph_pagerank").collect()
    run("q_graph_triangles").collect()
    Seq("graph_pairs", "graph_coedges").foreach { n =>
      val dir = SessionResources.artifactDir(spark, sf, n)
      assert(Files.exists(dir.resolve("_SUCCESS")), n)
      val files = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, n)
      val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
      // every family member consults only the written files
      Seq("q_graph_pagerank", "q_graph_hits", "q_graph_triangles",
        "q_graph_linkpred", "q_graph_degree_dist")
        .foreach(q => run(q).collect())
      assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
        s"$n rebuilt")
    }
  }

  test("refreshed IVF layout re-attaches; the drift report never re-fits") {
    run("q_ivf_refit").collect()
    // both the refreshed index AND the round-12 drift-report layout
    // (the before/after assignment table) must re-attach: a second
    // report invocation reads thin written rows, never an embedding
    Seq("ivf_refit", "ivf_refit_assign").foreach { n =>
      val dir = SessionResources.artifactDir(spark, sf, n)
      assert(Files.exists(dir.resolve("_SUCCESS")), n)
      val files = Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, n)
      val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
      run("q_ivf_refit").collect()
      assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
        s"$n rebuilt")
    }
  }

  test("wrapped train-shard layout re-attaches un-rebuilt") {
    run("q_shard_export_wrapped").collect()
    val dir = SessionResources.artifactDir(spark, sf, "train_shards_wrapped")
    assert(Files.exists(dir.resolve("_SUCCESS")))
    val files = Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
    run("q_shard_export_wrapped").collect()
    assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
      "train_shards_wrapped rebuilt")
  }
}

class Round13PersistenceSpec extends SparkSpec {
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  test("round-13 layouts (train_shards, datasheet_partials, doremi_weights) re-attach un-rebuilt") {
    // force-build all three, then pin that consumers only READ
    run("q_shard_export").collect()
    run("q_datasheet_partials").collect()
    run("q_doremi_weights").collect()
    Seq("train_shards", "datasheet_partials", "doremi_weights").foreach { n =>
      val dir = SessionResources.artifactDir(spark, sf, n)
      assert(Files.exists(dir.resolve("_SUCCESS")), n)
      val files = Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, n)
      val mtimes = files.map(f => f -> Files.getLastModifiedTime(f)).toMap
      run(n match {
        case "train_shards" => "q_shard_export"
        case "datasheet_partials" => "q_datasheet_partials"
        case _ => "q_mixture_plan" // a DIFFERENT consumer of the layout
      }).collect()
      assert(files.forall(f => Files.getLastModifiedTime(f) == mtimes(f)),
        s"$n rebuilt")
    }
  }
}
