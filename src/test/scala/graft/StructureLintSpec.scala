package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structure rules over `src/main/scala`: sessions are built only by
  * `GraftSession`, the only entrypoints are `Bench`, `Verify` and
  * `Tools`, and engine state outside a DataFrame (the memo, the
  * warehouse path, write-once markers, scratch dirs) is owned by
  * `SessionResources`, and the session conf every query relies on is
  * set once, by `GraftSession.attach`, never by a query function.
  * Comment lines are not code and are skipped.
  */
class StructureLintSpec extends AnyFunSuite {

  /** Names of the main-scope Scala files with a code line containing `marker`. */
  private def filesWith(marker: String): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).filter { f =>
      Files.readAllLines(f).asScala.map(_.trim).exists(l => l.contains(marker) &&
        !Seq("*", "//", "/*").exists(l.startsWith))
    }.map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(filesWith("SparkSession.builder") == Set("GraftSession.scala"))
  }

  test("def main appears only in Bench, Verify and Tools") {
    assert(filesWith("def main(") == Set("Bench.scala", "Verify.scala", "Tools.scala"))
  }

  for (marker <- Seq("ConcurrentHashMap", "spark.sql.warehouse.dir", "\"_SUCCESS\""))
    test(s"$marker appears only in SessionResources") {
      assert(filesWith(marker) == Set("SessionResources.scala"))
    }

  for (marker <- Seq("\"/tmp", "_BUILT", "_READY"))
    test(s"no $marker in main code") {
      assert(filesWith(marker).isEmpty)
    }

  for (key <- Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled"))
    test(s"$key appears only in GraftSession") {
      assert(filesWith(key) == Set("GraftSession.scala"))
    }
}
