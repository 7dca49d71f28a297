package graft

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
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)
}
