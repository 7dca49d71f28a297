package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pins the session relation memo (`Tables.read`) that serves base
  * tables, write-once layouts and the binary fixture. The fixture's 200
  * partition directories are past Spark's 32-path parallel-discovery
  * threshold, so a bare `load()` per query construction launches a
  * 200-task listing job; a bare base-table read is a schema-inference
  * job. The memo reuses the resolved relation (source metadata only)
  * within a session — these tests pin the reuse, the session-identity
  * invalidation, the modification-time guard, and that the served
  * relation still reads the real bytes.
  */
class BinaryFixtureSpec extends SparkSpec {

  // the same contract for both non-layout memo clients: the binary
  // fixture and a base table (label, resolve, row count)
  for ((label, resolve, rows) <- Seq[(String, SparkSession => DataFrame, Long)](
      ("binaryFixture", graft.operators.Extras.binaryFixture(_, sf), 200L),
      ("Tables.t", Tables.t(_, sf, "region"), 5L))) {

    test(s"$label memoizes the resolved relation within a session") {
      assert(resolve(spark) eq resolve(spark), "same session must reuse " +
        "the resolved relation (no per-construction listing or " +
        "schema-inference job)")
    }

    test(s"$label hands a different session its own fresh relation") {
      val s2 = spark.newSession()
      val a = resolve(spark)
      val b = resolve(s2)
      assert(!(a eq b), "a new session must not be served a relation " +
        "bound to another session")
      assert(b.sparkSession eq s2)
      // and the original session gets a working relation again afterwards
      val c = resolve(spark)
      assert(c.sparkSession eq spark)
      assert(c.count() == rows)
    }
  }

  test("ensureLayout memoizes re-attach within a session and invalidates on rebuild") {
    val loc = SessionResources.artifactDir(spark, sf, "memo_probe")
    def delete(): Unit = Tables.deleteTree(loc)
    delete() // start from no layout, whatever an earlier run left behind
    var builds = 0
    def layout() = graft.sources.Layouts.ensureLayout(spark, sf, "memo_probe") {
      builds += 1
      Tables.region(spark, sf).select(col("r_regionkey"), col("r_name"))
    }
    val a = layout(); val b = layout()
    assert(a eq b, "same session must reuse the attached relation")
    assert(builds == 1, "re-attach must never rebuild")
    assert(b.count() == 5)
    // a new session is handed its own relation bound to that session
    val s2 = spark.newSession()
    val c = graft.sources.Layouts.ensureLayout(s2, sf, "memo_probe") {
      fail("existing layout must re-attach, not rebuild"); null
    }
    assert(!(c eq b) && (c.sparkSession eq s2))
    // deleting the layout forces a rebuild, which must invalidate the memo
    delete()
    val d0 = layout()
    assert(!(d0 eq a), "a rebuild must not serve the stale pre-delete relation")
    assert(builds == 2 && d0.count() == 5)
  }

  test("the memoized relation reads the real file bytes (round-trip identity)") {
    // content = text + newline, keyed by the partition directory —
    // recompute the digest from the documents table and compare
    val got = graft.operators.Extras.binaryFixture(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(col("content")).as("got_md5"))
    val want = Tables.documents(spark, sf).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        md5(concat(col("text"), lit("\n")).cast("binary")).as("want_md5"))
    val bad = got.join(want, "doc_id")
      .filter(col("got_md5") =!= col("want_md5")).count()
    assert(bad == 0)
    assert(got.count() == 200)
  }

  test("Tables.t re-resolves a table rewritten between two calls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_probe")
    try {
      val path = dir.resolve("probe.parquet").toString
      spark.range(3).toDF("k").write.mode("overwrite").parquet(path)
      val a = Tables.t(spark, dir.toString, "probe")
      assert(a.agg(sum(col("k"))).head().getLong(0) == 3L)
      spark.range(10, 15).toDF("k").write.mode("overwrite").parquet(path)
      val b = Tables.t(spark, dir.toString, "probe")
      assert(!(a eq b), "a rewritten path must not be served its stale file index")
      assert(b.agg(sum(col("k"))).head().getLong(0) == 60L)
    } finally Tables.deleteTree(dir)
  }
}
