package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run: spans recorded by the harness
  * around calls into the engine, plus the events Spark's public listener
  * APIs deliver. Listener events carry their own wall-clock times and are
  * joined to ops by time when the run ends. Nothing is written until then.
  *
  * Recording is gated by `on`: the listeners stay registered for the whole
  * run (static confs cannot be removed) but drop events while it is false.
  */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, bytesRead: Long, shuffleWritten: Long)
  final case class Trigger(startMs: Long, durations: Map[String, Long], inputRows: Long)
  final case class StreamQuery(runId: String, startMs: Long, var endMs: Long)

  val spans = new ConcurrentLinkedQueue[Span]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  val queries = new java.util.concurrent.ConcurrentHashMap[String, StreamQuery]()

  private val nextId = new AtomicLong(1)
  // the harness is a single client, so one stack of open spans suffices
  private var stack: List[Long] = Nil
  var currentOp = 0L

  /** Time `body` as a span named `name`, child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, currentOp, name, t0, System.nanoTime()))
        stack = stack.tail
      }
    }

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span: its duration minus the union of its children. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}

/** Catalyst phases of every query execution, in every session. */
class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    if (Trace.on) qe.tracker.phases.foreach { case (name, p) =>
      Trace.phases.add(Trace.Phase(name, p.startTimeMs, p.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Streaming query lifecycles and micro-batch progress, in every session. */
class TriggerListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Trace.on) {
      val t = java.time.Instant.parse(e.timestamp).toEpochMilli
      Trace.queries.put(e.runId.toString, Trace.StreamQuery(e.runId.toString, t, -1L))
    }
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.on) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Trace.triggers.add(Trace.Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
    }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (Trace.on) Option(Trace.queries.get(e.runId.toString)).foreach(_.endMs = System.currentTimeMillis())
}

/** Job intervals and per-task executor metrics. */
class JobListener(conf: SparkConf) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.on) Trace.jobs.put(e.jobId, Trace.Job(e.jobId, e.time, -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(Trace.jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.on && e.taskMetrics != null) {
      val m = e.taskMetrics
      Trace.tasks.add(Trace.Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten))
    }
}
