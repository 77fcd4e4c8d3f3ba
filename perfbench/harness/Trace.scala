package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the span tree workload -> pass -> op -> build/action.
  * Spark jobs hang under the build/action span whose job group they carry
  * (or, for jobs Spark submits under its own group, such as broadcasts,
  * under the phase span that was open when they started). */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job scheduler and executor totals. */
final class JobStats(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Plan phases of one SQL execution, attributed to the span open when its
  * callback arrived (the harness drains the bus before closing a phase). */
final case class SqlExec(span: Int, funcName: String, optimizeMs: Long, planningMs: Long)

/** Span recorder. Spans are always recorded (they cost a few objects per
  * op); the listener is attached only around traced passes. */
final class Trace(sc: SparkContext) {
  val GroupPrefix = "perfbench:"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  // nanoTime and the listener's wall-clock job times on one axis
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val listener = new TraceListener(this)
  private var attached = false

  /** Start recording jobs, tasks and (for this session) SQL executions. */
  def attach(spark: SparkSession): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    BusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    attached = false
  }

  def drain(): Unit = if (attached) BusAccess.drain(sc)

  @volatile private[perfbench] var current: Int = -1

  def open(kind: String, name: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), kind, name, System.nanoTime())
    spans += s
    stack.push(s)
    current = s.id
    if (kind == "build" || kind == "action") sc.setJobGroup(GroupPrefix + s.id, name, false)
    s
  }

  def close(s: Span): Unit = {
    if (s.kind == "build" || s.kind == "action") {
      drain()
      sc.clearJobGroup()
    }
    s.endNs = System.nanoTime()
    require(stack.pop() eq s, s"span ${s.name} closed out of order")
    current = stack.headOption.map(_.id).getOrElse(-1)
  }

  def span[T](kind: String, name: String)(body: => T): (T, Span) = {
    val s = open(kind, name)
    try (body, s) finally close(s)
  }

  def all: Seq[Span] = spans.toSeq
  def jobs: Seq[JobStats] = listener.jobs
  def sqlExecs: Seq[SqlExec] = listener.execs
  def jobsStarted: Int = listener.started.get

  def jobStartNs(j: JobStats): Long = j.startMs * 1000000L - epochOffsetNs
  def jobEndNs(j: JobStats): Long = j.endMs * 1000000L - epochOffsetNs

  /** The build/action span a job belongs to: its job group when the
    * harness set it, else the innermost phase span open at its start. */
  def phaseOf(j: JobStats): Option[Span] =
    if (j.group != null && j.group.startsWith(GroupPrefix))
      Some(spans(j.group.stripPrefix(GroupPrefix).toInt))
    else {
      val t = jobStartNs(j)
      spans.filter(s => (s.kind == "build" || s.kind == "action") &&
        s.startNs <= t && (s.endNs < 0 || t <= s.endNs)).lastOption
    }

  /** Descendant spans of `root` (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }
}

final class TraceListener(trace: Trace) extends SparkListener with QueryExecutionListener {
  val started = new AtomicInteger()
  private val byJob = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]

  def jobs: Seq[JobStats] = synchronized(byJob.values.toSeq)
  def execs: Seq[SqlExec] = synchronized(sqlExecs.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started.incrementAndGet()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    byJob(e.jobId) = new JobStats(e.jobId, group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- byJob.get(jobId); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.busyMs += info.duration
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    sqlExecs += SqlExec(trace.current, funcName, ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}
