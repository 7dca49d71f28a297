package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener events of the traced run, kept in memory until the operation
  * that caused them ends. Every time is epoch milliseconds. */
sealed trait Ev
final case class JobStart(id: Int, t: Long, stages: Seq[Int]) extends Ev
final case class JobEnd(id: Int, t: Long) extends Ev
final case class StageDone(id: Int, start: Long, end: Long, tasks: Int,
    cpuNs: Long, gcMs: Long, shuffleBytes: Long, shuffleRecords: Long,
    spillBytes: Long, rowsRead: Long, bytesWritten: Long) extends Ev
final case class QeDone(phases: Seq[(String, Long, Long)], filesRead: Long,
    filesWritten: Long) extends Ev
final case class BatchDone(start: Long, durations: Map[String, Long],
    stateRows: Long) extends Ev

/** One recorded interval. `parent` is the index of the enclosing span in
  * the same operation, or -1 for the operation itself. */
final case class Span(op: Int, name: String, start: Long, end: Long, parent: Int) {
  def ms: Long = end - start
}

/** Registers a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener; they record only while `on` is set. */
final class Recorder {
  @volatile var on = false
  private val events = new ConcurrentLinkedQueue[Ev]()
  private def add(e: Ev): Unit = if (on) events.add(e)

  def take(): Seq[Ev] = {
    val out = mutable.ArrayBuffer[Ev]()
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }

  val spark: SparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      add(JobStart(j.jobId, j.time, j.stageIds))
    override def onJobEnd(j: SparkListenerJobEnd): Unit = add(JobEnd(j.jobId, j.time))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null) add(StageDone(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
      val phases = qe.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }
      add(QeDone(phases, Plans.sum(qe.executedPlan) { case f: FileSourceScanExec => f.metrics.get("numFiles") },
        Plans.sum(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles") }))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      add(BatchDone(java.time.Instant.parse(p.timestamp).toEpochMilli, d,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }
}

/** Sums a SQL metric over a physical plan, adaptive stages included. */
object Plans extends AdaptiveSparkPlanHelper {
  def sum(plan: SparkPlan)(pick: PartialFunction[SparkPlan, Option[org.apache.spark.sql.execution.metric.SQLMetric]]): Long =
    collectWithSubqueries(plan)(pick).flatten.map(_.value).sum
}

/** Builds the span tree of one traced operation and the per-layer
  * counters from the events it caused. */
object Spans {

  /** Spans of one operation: op > {construct, exec} > {plan phase, job,
    * streaming batch}, job > stage. Jobs, phases and batches go under
    * whichever of construct or exec they started in. */
  def build(op: Int, start: Long, constructEnd: Long, end: Long, evs: Seq[Ev]): Seq[Span] = {
    val out = mutable.ArrayBuffer(Span(op, "op", start, end, -1),
      Span(op, "construct", start, constructEnd, 0), Span(op, "exec", constructEnd, end, 0))
    def phase(t: Long): Int = if (t < constructEnd) 1 else 2
    evs.foreach {
      case QeDone(ps, _, _) => ps.foreach { case (k, a, b) => out += Span(op, s"plan.$k", a, b, phase(a)) }
      case BatchDone(a, d, _) => out += Span(op, "batch", a, a + d.getOrElse("triggerExecution", 0L), phase(a))
      case _ => ()
    }
    val ends = evs.collect { case JobEnd(id, t) => id -> t }.toMap
    val stageParent = mutable.Map[Int, Int]()
    evs.collect { case j: JobStart => j }.foreach { j =>
      stageParent ++= j.stages.map(_ -> out.size)
      out += Span(op, "job", j.t, ends.getOrElse(j.id, j.t), phase(j.t))
    }
    evs.collect { case s: StageDone => s }.foreach { s =>
      out += Span(op, "stage", s.start, s.end, stageParent.getOrElse(s.id, 2))
    }
    out.toSeq
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Long)] = spans.zipWithIndex.map { case (s, i) =>
    val kids = spans.filter(_.parent == i)
      .map(k => (k.start max s.start, k.end min s.end)).filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0L
    var (a, b) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (x, y) =>
      if (x > b) { if (b > a) covered += b - a; a = x; b = y } else b = b max y
    }
    if (b > a) covered += b - a
    s.name -> (s.ms - covered).max(0L)
  }
}
