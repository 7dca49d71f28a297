package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Constructing a point query (calling its query function, no action)
  * in a warm session launches no Spark job: its relations are resolved
  * once per session, and the bucketed layout is not re-derived from
  * the base tables once it exists.
  */
class ConstructionJobsSpec extends SparkSpec {
  private val Probe = "graft.spec.probe"

  /** Jobs started by this thread while `f` runs. Listener events arrive
    * asynchronously on one ordered queue, so a marked sentinel job
    * follows `f`: once the listener has seen it, every job `f` started
    * has been delivered too.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Probe))) match {
          case Some("construct") => jobs.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Probe, "construct")
      f
      sc.setLocalProperty(Probe, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      jobs.get
    } finally {
      sc.setLocalProperty(Probe, null)
      sc.removeSparkListener(listener)
    }
  }

  test("constructing a point query in a warm session starts no job") {
    val qs = Seq("q_point_get", "q_key_range", "q_insert_append",
      "q_point_get_indexed")
    qs.foreach(q => run(q).write.format("noop").mode("overwrite").save())
    val jobs = qs.map(q => q -> jobsDuring(run(q))).toMap
    assert(jobs.values.forall(_ == 0), s"construction jobs per query: $jobs")
  }
}
