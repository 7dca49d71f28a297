package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** `SparkEntry` promises self-contained `(SparkSession, sfDir) =>
  * DataFrame` entries: a query registers the graft functions it uses.
  * Bench, Verify and the shared spec session all run attached sessions,
  * so this constructs and analyzes one query per function family on a
  * new session that starts without any graft function.
  */
class SelfContainedQuerySpec extends SparkSpec {

  // family -> (query, a graft function it needs)
  for ((family, (q, fn)) <- Seq(
      "vector" -> ("q_sim_topk", "cosine_sim"),
      "hash" -> ("q_dedup_minhash", "minhash16"),
      "text" -> ("q_quality_logistic", "text_stats"),
      "sketch" -> ("q_bloom_semijoin", "graft_bloom_contains"),
      "range join" -> ("q_range_join_binned", "graft_range_join"))) {
    test(s"$family: $q analyzes on a session without graft functions") {
      val fresh = spark.newSession()
      val registry = fresh.sessionState.functionRegistry
      assert(!registry.functionExists(FunctionIdentifier(fn)),
        s"a new session must start without $fn")
      SparkEntry.queries(q)(fresh, sf).queryExecution.assertAnalyzed()
      assert(registry.functionExists(FunctionIdentifier(fn)))
    }
  }
}
