package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The contracts of `SessionResources`: the memo (same object within a
  * session while the source is unchanged; rebuilt after a rewrite and in
  * another session; bounded under repeated queries), the artifact key
  * (injective over data dirs), and the scratch dir (deleted when the
  * application ends, so a run leaves no `graft_*` entry behind).
  */
class SessionResourcesSpec extends SparkSpec {

  private def withTempDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Tables.deleteTree(dir)
  }

  test("memo serves one object per session until its source is rewritten") {
    withTempDir("memo_contract") { dir =>
      val src = dir.resolve("t.parquet").toString
      spark.range(3).write.parquet(src)
      var builds = 0
      def get(s: SparkSession): AnyRef =
        SessionResources.memo(s, s"probe:$src", src) { builds += 1; new Object }
      val a = get(spark)
      assert(get(spark) eq a, "same session, unchanged source: the memoized object")
      assert(builds == 1)
      spark.range(5).write.mode("overwrite").parquet(src)
      val b = get(spark)
      assert(!(b eq a) && builds == 2, "a rewritten source must be rebuilt from")
      assert(get(spark) eq b)
      val c = get(spark.newSession())
      assert(!(c eq b) && builds == 3, "another session must build its own value")
    }
  }

  test("Bpe.learnedMerges retrains after its corpus is rewritten in place") {
    withTempDir("bpe_retrain") { dir =>
      val docs = dir.resolve("documents.parquet").toString
      def write(text: String): Unit = {
        val sess = spark
        import sess.implicits._
        Seq((1L, text)).toDF("doc_id", "text").write.mode("overwrite").parquet(docs)
      }
      def rules = text.Bpe.learnedMerges(spark, dir.toString).map(m => (m._2, m._3))
      write("ab ab ab ab cd")
      assert(rules == Seq(("a", "b"), ("c", "d")))
      write("xy xy xy xy zw")
      assert(rules == Seq(("x", "y"), ("z", "w")), "stale merges served after a rewrite")
    }
  }

  test("repeated BPE and LSH queries do not grow the memo") {
    def both(): Unit = Seq("q_bpe_merges", "q_sim_ann_lsh").foreach(run(_).collect())
    both()
    val n = SessionResources.memoSize
    both()
    assert(SessionResources.memoSize == n)
  }

  test("the artifact key is injective and identifier-safe") {
    val dirs = Seq("/d/a_b/c", "/d/a/b_c", "/d/sf0.1", "/d/sf0_1")
    val keys = dirs.map(SessionResources.key)
    assert(keys.distinct.size == dirs.size, keys)
    assert(keys.forall(_.matches("[A-Za-z0-9_]+")), keys)
  }

  test("data dirs whose paths fold alike get their own layouts") {
    withTempDir("key_probe") { root =>
      val dirs = Seq("a_b/c", "a/b_c", "sf0.1", "sf0_1").map(root.resolve(_).toString)
      dirs.zipWithIndex.foreach { case (d, i) =>
        spark.range(i + 1L).toDF("r_regionkey").write.parquet(s"$d/region.parquet")
      }
      try {
        val counts = dirs.map(d =>
          sources.Layouts.ensureLayout(spark, d, "key_probe")(Tables.region(spark, d)).count())
        assert(counts == Seq(1L, 2L, 3L, 4L), "one data dir was served another's layout")
      } finally dirs.foreach(d => Tables.deleteTree(SessionResources.artifactDir(spark, d, "key_probe")))
    }
  }

  test("scratch dirs are fresh, empty and under the application's scratch root") {
    val a = Paths.get(SessionResources.scratchDir(spark, "probe"))
    val b = Paths.get(SessionResources.scratchDir(spark, "probe"))
    assert(a != b)
    assert(Files.isDirectory(a) && Files.list(a).count() == 0)
    assert(a.getParent == Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${spark.sparkContext.applicationId}"))
  }

  test("a Tools run deletes its scratch output and writes no graft_* entry to /tmp") {
    withTempDir("scratch_lifecycle") { tmp =>
      def graftEntries(root: Path): Set[String] = {
        val ls = Files.list(root)
        try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_")).toSet
        finally ls.close()
      }
      val tmpBefore = graftEntries(Paths.get("/tmp"))
      val log = tmp.resolve("child.log")
      val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++ jvm ++
        Seq(s"-Djava.io.tmpdir=$tmp", "-Xmx1g", "-cp", System.getProperty("java.class.path"),
          "graft.Tools", "smoke", "q_append_sink", "q_csv_roundtrip")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sf)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val rc = pb.start().waitFor()
      val out = new String(Files.readAllBytes(log))
      assert(rc == 0, out.takeRight(4000))
      assert(out.contains("q_append_sink") && out.contains("q_csv_roundtrip"), out.takeRight(4000))
      assert(graftEntries(tmp).isEmpty, "scratch left in the private tmpdir")
      assert((graftEntries(Paths.get("/tmp")) -- tmpBefore).isEmpty, "graft_* written to /tmp")
    }
  }
}
