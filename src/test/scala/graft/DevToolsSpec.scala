package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SimpleMode

/** Runs every `graft.Tools` subcommand once on the shared session at
  * sf0.001 and pins the fields each prints. Plan files go to a fixed temp dir.
  */
class DevToolsSpec extends SparkSpec {

  private val planDir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_devtools_plans")

  private def tools(args: String*): Seq[String] =
    Tools.run(spark, args, sfDir = sf, planDir = planDir)

  private def keys(line: String): Set[String] =
    "\"([A-Za-z0-9_]+)\":".r.findAllMatchIn(line).map(_.group(1)).toSet

  private def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("the usage text lists every subcommand; an unknown one is refused") {
    Tools.Commands.foreach(c => assert(Tools.Usage.contains(s"  $c"), c))
    intercept[IllegalArgumentException](tools("no-such-tool"))
  }

  test("plan prints each query's explainString; --formatted and --iterbody write files") {
    val out = tools("plan", "q_point_get")
    assert(out.head == "===== q_point_get =====")
    assert(mask(out(1)).contains(mask(
      run("q_point_get").queryExecution.explainString(SimpleMode))))
    tools("plan", "--formatted", "spec", "q_point_get")
    tools("plan", "--iterbody")
    for (f <- Seq("q_point_get_spec", "q_graph_pagerank_iterbody",
        "q_graph_hits_iterbody", "q_graph_community_iterbody"))
      assert(Files.readString(planDir.resolve(s"$f.txt")).contains("Physical Plan"), f)
  }

  test("scale on one dir prints its readings and no exponent line") {
    val Seq(line) = tools("scale", sf)
    assert(Set("sf", "docs", "vectors", "q_dedup_minhash", "candidates", "sec",
      "knn_candidates_fixed6bits", "ivf2_candidates", "triangle_wedges",
      "linkpred_skew_capped_candidates", "pagerank_edges", "pca_fit_sec")
      .subsetOf(keys(line)), line)
  }

  test("growth exponents pair readings by exponent name against their basis") {
    import Tools.Reading
    def dir(n: Double, k: Int, y: Double, skipped: Double) = Seq(Reading("docs", n),
      Reading(s"cands_k$k", y, "docs", "cands_exp"), Reading("t.sec", y, "docs", "t.time_exp"),
      Reading("text_only", skipped, "docs"), Reading("knob", 3))
    assert(Tools.growth(dir(10, 1, 5, 1), dir(100, 2, 50, -1)) ==
      Seq("cands_exp" -> "1.00", "t.time_exp" -> "1.00"))
    assert(Tools.growth(dir(10, 1, 5, 2), dir(10, 1, 50, 8)) ==
      Seq("cands_exp" -> "NaN", "t.time_exp" -> "NaN", "text_only_exp" -> "NaN"))
    assert(Tools.growth(dir(10, 1, 2, 4), dir(1000, 1, 2, 64)).last == "text_only_exp" -> "0.60")
  }

  test("recall, work, blocks, rowgroups, stream-profile and smoke print their fields") {
    val recall = tools("recall", sf)
    assert(recall.map(_.takeWhile(_ != '=')) == Seq("knn_recall", "ann_lsh_recall"))
    recall.map(_.dropWhile(_ != '=').tail.toDouble).foreach(r => assert(r >= 0 && r <= 1))
    val Seq(w) = tools("work", "q_point_get")
    Seq("jobs=", "stages=", "tasks=", "cpu=", "shufMB=", "shufRows=")
      .foreach(k => assert(w.contains(k), w))
    val b = tools("blocks", "1")
    assert(b.size == 6 && b.forall(l => l.contains("rdds=") && l.contains("diskMB=")))
    val rg = tools("rowgroups")
    assert(rg.size == 2 && rg.forall(_.startsWith("[rgprobe] cores= 4")))
    val st = tools("stream-profile")
    assert(st.count(_.startsWith("== run ")) == 2 && st.count(_.startsWith("batch ")) >= 6)
    val smoke = tools("smoke", "q_point_get")
    assert(smoke.head.startsWith("=== q_point_get rows="))
    assert(smoke.tail.size == math.min(8, run("q_point_get").count()))
  }

  test("eval-scale and rehearse print their JSON lines at both dirs") {
    val (perQuery, exps) = tools("eval-scale", sf, "2").partition(_.contains("\"eval_scale\""))
    assert(perQuery.size == 34 && exps.size == 17)
    perQuery.foreach(l => assert(keys(l) == Set("probe", "dir", "n_docs", "query",
      "sec", "shuffle_ex", "broadcast_ex", "payload_ex"), l))
    assert(exps.forall(l => keys(l) == Set("probe", "query", "factor", "exp")))
    val re = tools("rehearse", sf, "2")
    assert(re.size == 2)
    re.foreach(l => assert(Set("dir", "factor", "n_survivors", "n_shards",
      "composed_sec", "shuffles", "broadcasts", "payload_exchanges").subsetOf(keys(l)) &&
      l.contains("\"payload_exchanges\":0"), l))
  }
}
