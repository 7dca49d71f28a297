package graft

/** Constructing a point query (calling its query function, no action)
  * in a warm session launches no Spark job: its relations are resolved
  * once per session, and the bucketed layout is not re-derived from
  * the base tables once it exists. Nor does building or running a
  * query write session conf: `GraftSession.attach` sets what queries
  * rely on, so a session plans the same whichever queries ran first.
  */
class ConstructionJobsSpec extends SparkSpec {

  test("constructing a point query in a warm session starts no job") {
    val qs = Seq("q_point_get", "q_key_range", "q_insert_append",
      "q_point_get_indexed")
    qs.foreach(q => run(q).write.format("noop").mode("overwrite").save())
    val jobs = qs.map(q => q -> jobsDuring(run(q))).toMap
    assert(jobs.values.forall(_ == 0), s"construction jobs per query: $jobs")
  }

  test("constructing and running queries leaves the session conf unchanged") {
    val s = GraftSession.attach(spark.newSession())
    val before = s.conf.getAll
    Seq("q_point_get_indexed", "q_range_join_binned").foreach(q =>
      SparkEntry.queries(q)(s, sf).collect())
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty,
      changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString("; "))
  }
}
