package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs: one JVM-wide `GraftSession` (local[4],
  * UTC, AQE on, graft functions attached).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  private val Probe = "graft.spec.probe"
}

trait SparkSpec extends AnyFunSuite {
  import SparkSpec.Probe

  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Jobs started by this thread while `f` runs. Listener events arrive
    * asynchronously on one ordered queue, so a marked sentinel job
    * follows `f`: once the listener has seen it, every job `f` started
    * has been delivered too.
    */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Probe))) match {
          case Some("counted") => jobs.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Probe, "counted")
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

  /** Run `f` with the session conf `pairs` set, restoring each key's
    * prior value (or its unset state) afterwards. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
