package graft

import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SimpleMode, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** `plans.SmallSort`: a global sort over an input estimated at one AQE
  * advisory partition or less runs as one task over a `Coalesce 1`,
  * with no range-sampling job and no range exchange; larger or
  * AQE-off sorts keep the range exchange.
  */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val PointQueries = Seq("q_point_get", "q_key_range", "q_insert_append")

  private def plan(q: String): String = run(q).queryExecution.explainString(SimpleMode)

  test("a point query with a sink sort runs as exactly one job") {
    PointQueries.foreach(q => run(q).collect()) // warm: relations resolved
    val jobs = PointQueries.map { q =>
      val df = run(q)
      q -> jobsDuring(df.collect())
    }.toMap
    assert(jobs.values.forall(_ == 1), s"jobs per query: $jobs")
  }

  test("a small global sort sorts one coalesced partition, with no range exchange") {
    PointQueries.foreach { q =>
      val p = plan(q)
      assert(!p.contains("rangepartitioning"), s"$q:\n$p")
      val df = run(q)
      df.collect()
      val sorts = collect(df.queryExecution.executedPlan) {
        case s: SortExec if s.global => s
      }
      assert(sorts.nonEmpty && sorts.forall(_.child match {
        case c: CoalesceExec => c.numPartitions == 1
        case InputAdapter(c: CoalesceExec) => c.numPartitions == 1 // under codegen
        case _ => false
      }), s"$q:\n${df.queryExecution.executedPlan}")
    }
  }

  test("AQE off, coalescing off or an input above the advisory size keeps the range exchange") {
    for (conf <- Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        Advisory -> "1"))
      withSQLConf(conf) {
        PointQueries.foreach { q =>
          val p = plan(q)
          assert(p.contains("rangepartitioning") && !p.contains("Coalesce 1"), s"$conf $q:\n$p")
        }
      }
  }

  test("ordered results are identical with the strategy on and unable to fire") {
    val qs = PointQueries ++ Seq("q_point_get_indexed", "q1_pricing_summary",
      "q_join_sortmerge", "q_window_range", "q_rollup", "q_dedup_minhash",
      "q_sim_topk", "q_graph_pagerank", "q_stream_tumbling", "q_append_sink",
      "q_quality_gopher", "q_text_cap", "q_math_funcs")
    qs.foreach { q =>
      val on = run(q).collect().toSeq
      val off = withSQLConf(Advisory -> "1")(run(q).collect().toSeq)
      assert(on.nonEmpty, q)
      assert(on == off, s"$q: ${on.take(5)} vs ${off.take(5)}")
    }
  }
}
