package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one layer. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double)

/** Spans the benchmark records around its own calls into the engine:
  * workload → operation → phase. Spark jobs and Catalyst planning phases
  * come from [[Meter]] and are attached below the phase that ran them.
  * Spans stay in memory until the run ends. With `on = false` only the
  * bookkeeping the untraced metrics need is kept (no Spark listener).
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  def current: Int = stack.head

  /** Runs `f` as a span of `layer`; jobs started inside carry its id. */
  def span[A](layer: String, name: String)(f: => A): A = {
    val id = spans.length
    spans += Span(id, current, layer, name, nowMs, Double.NaN)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try f
    finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, if (current >= 0) current.toString else null)
      spans(id) = spans(id).copy(end = nowMs)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillMem: Long, spillDisk: Long,
    peakMem: Long, failed: Boolean)

final case class JobRec(id: Int, span: Int, start: Double, var end: Double,
    stages: Seq[Int], var failed: Boolean = false)

/** File bytes and rows the file-source scans of one query read; `at` is
  * when its planning ended (epoch ms), which places it inside the span
  * that ran it.
  */
final case class ScanRec(at: Double, bytes: Long, rows: Long)

/** Spark-side counters for the traced run: jobs (tagged with the span that
  * started them), their stages and tasks, and, for every query execution,
  * the Catalyst phase times (`QueryPlanningTracker`) and what its file
  * scans read. Scans are taken from the executed plan's
  * `FileSourceScanExec` nodes, so reads of cached blocks (persisted RDDs,
  * cached relations, checkpoints) do not count as scanning.
  */
final class Meter extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer[JobRec]()
  val tasks = ArrayBuffer[TaskRec]()
  /** (phase, start ms, end ms) of every planned query. */
  val planPhases = ArrayBuffer[(String, Double, Double)]()
  val scans = ArrayBuffer[ScanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks += (if (m == null) TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory, failed))
  }

  private def query(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      planPhases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    def metric(p: SparkPlan, key: String): Long = p.metrics.get(key).map(_.value).getOrElse(0L)
    val read = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => (metric(s, "filesSize"), metric(s, "numOutputRows"))
    }
    val at = qe.tracker.phases.values.map(_.endTimeMs).maxOption
    if (read.nonEmpty && at.isDefined)
      scans += ScanRec(at.get.toDouble, read.map(_._1).sum, read.map(_._2).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = query(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = query(qe)
}
