package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import graft.{GraftSession, SparkEntry, Tables}

/** JVM side of the benchmark (`perfbench/run.py` is the command). It
  * drives the engine only through `SparkEntry.queries(name)(spark, dir)`,
  * the returned DataFrame's query execution and a `noop`-sink write, and
  * reads Spark's listener interfaces; no engine code is changed for it.
  *
  * Modes:
  *  - `oracle <names> <out.json>`: the DuckDB SQL of each query.
  *  - `expect <dir> <names> <out.json>`: fingerprints of the oracle
  *    outputs `<dir>/<name>.parquet`.
  *  - `run <key=value>...`: one benchmark run; writes `out` (metrics and
  *    diagnostics) and, when traced, `traceOut` (spans).
  */
object Harness {

  def main(args: Array[String]): Unit = args.head match {
    case "oracle" =>
      val sql = SparkEntry.oracleSql
      writeJson(Paths.get(args(2)), args(1).split(",").toSeq.flatMap(n => sql.get(n).map(n -> _)).toMap)
    case "expect" =>
      val spark = GraftSession.create()
      spark.sparkContext.setLogLevel("WARN")
      val fps = args(2).split(",").toSeq.map(n => n -> Fingerprint.of(spark.read.parquet(s"${args(1)}/$n.parquet")))
      writeJson(Paths.get(args(3)), fps.toMap)
      spark.stop()
    case "run" =>
      val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      new Run(kv).execute()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)

  def readJson(p: Path): Map[String, String] =
    mapper.readValue(p.toFile, classOf[Map[String, String]])
}

/** Outcome of one operation. Times in milliseconds. */
final case class OpResult(name: String, constructMs: Double, totalMs: Double,
    ok: Boolean, rows: Long)

final class Run(kv: Map[String, String]) {
  private val queries: Seq[String] = kv("queries").split(",").toSeq
  private val dataDir = kv("data")
  private val seed = kv("seed").toLong
  private val passes = kv("passes").toInt
  private val warmPasses = kv("warmPasses").toInt
  private val rng = new scala.util.Random(seed)
  private val traced = kv("trace") == "1"
  private val work = Paths.get(kv("work")).toAbsolutePath
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val expected = Harness.readJson(Paths.get(kv("expected")))

  private val recorder = new Recorder
  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer[String]()
  private val log = new java.io.PrintStream(new java.io.FileOutputStream(work.resolve("ops.log").toFile), true)

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One operation: construct, then a `noop` write with the fingerprint
    * observed on the same execution. */
  private def runOp(name: String): OpResult = {
    attempted += 1
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val df: DataFrame = fn(spark, dataDir)
      val t1 = System.nanoTime()
      val (renamed, aggs) = Fingerprint.aggregates(df)
      val obs = Observation(s"perfbench_$attempted")
      renamed.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val r = Await.result(obs.future, 120.seconds)
      val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
      val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
      val got = Fingerprint.format(Fingerprint.header(df), r.getLong(0), lo, hi)
      val ok = expected.get(name).contains(got)
      if (!ok) fail(name, s"fingerprint $got, expected ${expected.getOrElse(name, "none")}")
      OpResult(name, ms(t0, t1), ms(t0, t2), ok, r.getLong(0))
    } catch {
      case e: Throwable =>
        fail(name, s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        OpResult(name, 0, ms(t0, System.nanoTime()), ok = false, 0)
    }
  }

  private def fail(name: String, why: String): Unit = {
    failed += 1
    failures += s"$name: $why"
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Fixed-work host canary: the range -> xxhash64 -> bit_xor job of
    * `graft.Bench`, sized for a few hundred milliseconds. */
  private def canary(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, cpus).select(bit_xor(xxhash64(col("id"))).as("h"))
      .write.format("noop").mode("overwrite").save()
    ms(t0, System.nanoTime()) / 1000
  }

  /** The session over the run's private warehouse, the base tables
    * resolved, the first call of every query (which builds the write-once
    * layouts), then `warmPasses` passes until the JIT has settled. Returns
    * the component times in ms. */
  private def setup(): Map[String, Double] = {
    val wh = work.resolve("warehouse")
    val t0 = System.nanoTime()
    System.setProperty("spark.sql.warehouse.dir", wh.toUri.toString)
    System.setProperty("spark.local.dir", work.resolve("local").toString)
    spark = GraftSession.create(s"local[$cpus]", cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(Tables.t(spark, dataDir, _).schema)
    Tables.events(spark, dataDir).schema
    val t2 = System.nanoTime()
    queries.foreach(runOp)
    val t3 = System.nanoTime()
    (1 to warmPasses).foreach(_ => rng.shuffle(queries).foreach(runOp))
    val t4 = System.nanoTime()
    Map("setup" -> ms(t0, t4), "create" -> ms(t0, t1), "load" -> ms(t1, t2), "first" -> ms(t2, t3),
      "warm" -> ms(t3, t4))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def execute(): Unit = {
    val setupMs = setup()
    val out = mutable.Map[String, Any]()

    val sc = spark.sparkContext
    sc.addSparkListener(recorder.spark)
    spark.listenerManager.register(recorder.queries)
    spark.streams.addListener(recorder.streams)

    canary() // warms the canary's codegen
    val canaryStart = math.min(canary(), canary())

    // Closed loop, one client: a fixed number of whole passes, each a
    // seeded permutation of the workload's queries, so every run does the
    // same work and reports the same sample count. A traced run alternates
    // untraced and traced passes so the tracing overhead is measured
    // against the same host load.
    val plain = mutable.ArrayBuffer[OpResult]()
    val withTrace = mutable.ArrayBuffer[OpResult]()
    val spans = mutable.ArrayBuffer[Span]()
    val self = mutable.Map[String, Long]().withDefaultValue(0L)
    val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
    val blockMb = mutable.ArrayBuffer[Double]()
    val loopStart = System.nanoTime()
    val cpu0 = processCpuNs()
    (0 until passes).foreach { pass =>
      val tracePass = traced && pass % 2 == 1
      recorder.on = tracePass
      rng.shuffle(queries).foreach { q =>
        val opId = plain.size + withTrace.size
        val wall0 = System.currentTimeMillis()
        val r = runOp(q)
        log.println(f"pass=$pass op=$opId $q construct_ms=${r.constructMs}%.1f total_ms=${r.totalMs}%.1f ok=${r.ok}")
        if (tracePass) {
          PerfbenchBus.drain(sc)
          val evs = recorder.take()
          val opSpans = Spans.build(opId, wall0, wall0 + r.constructMs.toLong, wall0 + r.totalMs.toLong, evs)
          spans ++= opSpans
          Spans.selfTimes(opSpans).foreach { case (k, v) => self(k) += v }
          tally(counters, evs, wall0 + r.constructMs.toLong, r.rows)
          blockMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
          withTrace += r
        } else plain += r
      }
    }
    recorder.on = false
    val loopSec = (System.nanoTime() - loopStart) / 1e9
    val cpuNs = processCpuNs() - cpu0
    val canaryEnd = math.min(canary(), canary())

    val lat = plain.map(_.totalMs).sorted
    val n = lat.size
    // the highest order statistic with at least 10 samples beyond it
    val tailK = (n - 11).max(0)
    out ++= Map(
      "seed" -> seed, "passes" -> passes, "ops" -> n,
      "setup_s" -> setupMs("setup") / 1000, "setup_parts_ms" -> setupMs,
      "latency_p50_ms" -> median(lat.toSeq),
      "latency_tail_ms" -> lat(tailK), "latency_tail_pct" -> (100.0 * (tailK + 1) / n),
      "throughput_ops_s" -> (plain.size + withTrace.size) / loopSec,
      "cpu_ms_per_op" -> cpuNs / 1e6 / (plain.size + withTrace.size),
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
      "per_query_p50_ms" -> plain.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.totalMs).toSeq) }
    )
    if (traced) out("layers") = layers(setupMs, plain.toSeq, withTrace.toSeq, self.toMap, counters.toMap, blockMb.toSeq)
      .map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) }
    if (traced) Harness.writeJson(Paths.get(kv("traceOut")), spans.map(s =>
      Map("op" -> s.op, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent)).toSeq)
    Harness.writeJson(Paths.get(kv("out")), out.toMap)
    spark.stop()
  }

  private def tally(c: mutable.Map[String, Double], evs: Seq[Ev], constructEnd: Long, rows: Long): Unit = {
    c("ops") += 1
    c("rows_returned") += rows
    evs.foreach {
      case JobStart(_, t, _) =>
        c("jobs") += 1
        if (t < constructEnd) c("construct_jobs") += 1
      case s: StageDone =>
        c("stages") += 1; c("tasks") += s.tasks; c("cpu_ns") += s.cpuNs; c("gc_ms") += s.gcMs
        c("shuffle_bytes") += s.shuffleBytes; c("shuffle_records") += s.shuffleRecords
        c("spill_bytes") += s.spillBytes; c("rows_read") += s.rowsRead; c("bytes_written") += s.bytesWritten
      case q: QeDone =>
        q.phases.foreach { case (k, a, b) => c(s"phase.$k") += b - a }
        c("files_read") += q.filesRead; c("files_written") += q.filesWritten
      case b: BatchDone =>
        c("batches") += 1
        c("add_batch_ms") += b.durations.getOrElse("addBatch", 0L)
        c("wal_commit_ms") += b.durations.getOrElse("walCommit", 0L)
        c("query_planning_ms") += b.durations.getOrElse("queryPlanning", 0L)
        c("state_rows") += b.stateRows
      case _ => ()
    }
  }

  /** Per-layer metrics as name -> (value, unit), each named after the
    * module whose call is timed or the Spark layer that runs the plans. */
  private def layers(setup: Map[String, Double], plain: Seq[OpResult],
      traced: Seq[OpResult], self: Map[String, Long], c: Map[String, Double],
      blockMb: Seq[Double]): Map[String, (Double, String)] = {
    val ops = c.getOrElse("ops", 0.0).max(1.0)
    def per(k: String) = c.getOrElse(k, 0.0) / ops
    val steady = plain.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.totalMs)) }
    val steadyConstruct = plain.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.constructMs)) }
    // Re-attach: the first construct of each query in a new session over
    // the layouts already written, beyond its steady construct time.
    val fresh = spark.newSession()
    GraftSession.attach(fresh)
    val attachMs = queries.map { q =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(q)(fresh, dataDir) catch { case _: Throwable => () }
      (ms(t0, System.nanoTime()) - steadyConstruct.getOrElse(q, 0.0)).max(0.0)
    }
    val plainMean = if (plain.isEmpty) 0.0 else plain.map(_.totalMs).sum / plain.size
    val tracedMean = if (traced.isEmpty) 0.0 else traced.map(_.totalMs).sum / traced.size
    Map(
      "GraftSession.create_ms" -> (setup("create"), "ms"),
      "Tables.load_ms" -> (setup("load"), "ms"),
      // first call of every query in a fresh warehouse beyond its steady cost
      "Layouts.build_ms" -> ((setup("first") - queries.map(steady.getOrElse(_, 0.0)).sum).max(0.0), "ms"),
      "Layouts.attach_ms" -> (attachMs.sum / attachMs.size, "ms"),
      "SparkEntry.construct_ms" -> (median(plain.map(_.constructMs)), "ms"),
      "SparkEntry.construct_jobs" -> (per("construct_jobs"), "count"),
      "planner.analysis_ms" -> (per("phase.analysis"), "ms"),
      "planner.optimization_ms" -> (per("phase.optimization"), "ms"),
      "planner.planning_ms" -> (per("phase.planning"), "ms"),
      "scheduler.jobs_per_op" -> (per("jobs"), "count"),
      "scheduler.stages_per_op" -> (per("stages"), "count"),
      "scheduler.tasks_per_op" -> (per("tasks"), "count"),
      "scan.rows_read_per_row_returned" ->
        (c.getOrElse("rows_read", 0.0) / c.getOrElse("rows_returned", 0.0).max(1.0), "rows/row"),
      "scan.files_read_per_op" -> (per("files_read"), "count"),
      "executor.cpu_ms_per_op" -> (per("cpu_ns") / 1e6, "ms"),
      "executor.gc_ms_per_op" -> (per("gc_ms"), "ms"),
      "shuffle.bytes_per_op" -> (per("shuffle_bytes"), "B"),
      "shuffle.records_per_op" -> (per("shuffle_records"), "count"),
      "spill.bytes_per_op" -> (per("spill_bytes"), "B"),
      "Checkpoints.block_store_mb" -> (if (blockMb.isEmpty) 0.0 else blockMb.sum / blockMb.size, "MB"),
      "Checkpoints.block_store_peak_mb" -> (if (blockMb.isEmpty) 0.0 else blockMb.max, "MB"),
      "streaming.batches_per_op" -> (per("batches"), "count"),
      "streaming.add_batch_ms" -> (per("add_batch_ms"), "ms"),
      "streaming.wal_commit_ms" -> (per("wal_commit_ms"), "ms"),
      "streaming.query_planning_ms" -> (per("query_planning_ms"), "ms"),
      "streaming.state_rows" -> (per("state_rows"), "count"),
      "output.bytes_written_per_op" -> (per("bytes_written"), "B"),
      "output.files_written_per_op" -> (per("files_written"), "count"),
      "trace.overhead_frac" -> (if (plainMean > 0) tracedMean / plainMean - 1 else 0.0, "frac")
    ) ++ Seq("construct", "exec", "plan.analysis", "plan.optimization", "plan.planning", "job", "stage", "batch")
      .map(k => s"self.${k}_ms" -> (self.getOrElse(k, 0L) / ops, "ms"))
  }
}
