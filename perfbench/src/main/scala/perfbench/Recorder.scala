package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Benchmark-side trace recorder for the traced run.
  *
  * Spans are opened by the benchmark around calls into the program's
  * public API; Spark jobs, stages and tasks come from a SparkListener and
  * planning time from a QueryExecutionListener. Everything stays in memory
  * and is written out once, when the run ends. The maths over these raw
  * records (self time, job-span union, driver gap, module attribution)
  * lives in `perfbench/metrics.py`.
  *
  * Attribution to an op relies on the op loop draining the listener bus
  * (see [[endOp]]) before the next op starts, so every event of an op is
  * dispatched while `currentOp` still names it.
  */
final class Recorder(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Recorder._

  // Spans use the same clock as listener events (epoch time), in micros.
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  @volatile private var currentOp = -1
  private var nextSpan = 0
  private val open = mutable.Stack.empty[Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Int, String, Double)]

  def beginOp(op: Int): Unit = currentOp = op

  /** Block until every event posted so far has reached this listener,
    * then stop attributing events to `op`. Called outside the timed op. */
  def endOp(): Unit = {
    org.apache.spark.graft.BenchListenerBus.drain(sc, 30000L)
    currentOp = -1
  }

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](op: Int, name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val start = nowUs
    try body
    finally {
      open.pop()
      spans += Span(id, parent, op, name, start, nowUs)
    }
  }

  // SQL execution id -> call site of the action that started it. Jobs that
  // AQE submits from its own threads carry no program frames; their
  // execution's call site does.
  private val execSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(x.executionId) = x.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong)).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, currentOp, e.time, -1L, e.stageIds, site, exec, ok = false)
    e.stageIds.foreach(s => stageOp(s) = currentOp)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stage(i.stageId, i.attemptNumber())
    a.submitMs = i.submissionTime.getOrElse(-1L)
    a.completeMs = i.completionTime.getOrElse(-1L)
    a.numTasks = i.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    a.durations += info.duration
    if (!info.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt),
      StageAgg(id, attempt, stageOp.getOrElse(id, currentOp)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      plans += ((currentOp, funcName, ms))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The raw trace, for the run record. */
  def record: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "op" -> j.op,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds,
        "callsite" -> j.callSite, "exec_callsite" -> j.execCallSite, "ok" -> j.ok)),
      "stages" -> stages.values.map(a => {
        val d = a.durations.sorted
        Map("id" -> a.id, "attempt" -> a.attempt, "op" -> a.op,
          "submit_ms" -> a.submitMs, "complete_ms" -> a.completeMs,
          "num_tasks" -> a.numTasks, "tasks" -> d.size, "failed" -> a.failed,
          "task_ms" -> d.sum, "task_ms_max" -> d.lastOption.getOrElse(0L),
          "task_ms_median" -> (if (d.isEmpty) 0L else d(d.size / 2)),
          "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
          "spill" -> a.spill, "input" -> a.input, "output" -> a.output)
      }),
      "plans" -> plans.map { case (op, f, ms) => Map("op" -> op, "func" -> f, "ms" -> ms) })
  }
}

object Recorder {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long)
  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
                       callSite: String, execCallSite: String, var ok: Boolean)
  final case class StageAgg(id: Int, attempt: Int, op: Int) {
    var submitMs = -1L
    var completeMs = -1L
    var numTasks = 0
    var failed = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  }
}
