package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attributed to one span while it is the innermost open span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var scanBytes = 0L; var filesRead = 0L; var outBytes = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var planMs = 0L
  /** [start, end] epoch ms of each job started in the span. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** Jobs per short call site ("count at Pipelines.scala:147"). */
  val callSites = mutable.LinkedHashMap[String, Long]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "scan_bytes" -> scanBytes, "files_read" -> filesRead,
    "out_bytes" -> outBytes, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "plan_ms" -> planMs,
    "job_intervals" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq,
    "call_sites" -> callSites.toMap)
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    startUs: Long, endUs: Long, counters: Counters)

/** Spans around each call into a layer, plus a SparkListener and a
  * QueryExecutionListener whose events are attributed to the innermost
  * open span.
  *
  * Calls run sequentially on one thread, and the listener bus is drained
  * at every span boundary, so every event the bus delivers while a span
  * is innermost belongs to that span. Both listeners are registered only
  * while an outermost span is open: work outside spans (tracing off, or
  * `untraced`) pays neither the listeners nor the drains. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var openId = -1
  @volatile private var current: Counters = new Counters
  private val jobStart = mutable.Map[Int, (Long, Counters)]()
  private val sqlSites = mutable.Map[Long, String]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current
      c.synchronized {
        c.jobs += 1
        // A SQL job's own call site may be a thread-pool frame (adaptive
        // execution submits stages asynchronously); the action that
        // started its SQL execution names the caller. Other jobs are
        // named by their result stage.
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => sqlSites.synchronized(sqlSites.get(id.toLong)))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("unknown")
        c.callSites(site) = c.callSites.getOrElse(site, 0L) + 1
      }
      jobStart.synchronized { jobStart(e.jobId) = (e.time, c) }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        sqlSites.synchronized { sqlSites(x.executionId) = x.description }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.synchronized(jobStart.remove(e.jobId)).foreach {
        case (t, c) => c.synchronized { c.jobIntervals += ((t, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = current
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.outBytes += m.outputMetrics.bytesWritten
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val c = current
      // analysis + optimization + planning, as QueryExecution tracks them
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      // local parquet/CSV scans do not reach task inputMetrics, so scan
      // volume comes from the file listing each scan selected
      val scans = try planHelper.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s
      } catch { case _: Throwable => Nil }
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      c.synchronized {
        c.planMs += plan
        c.scanBytes += scans.map(metric(_, "filesSize")).sum
        c.filesRead += scans.map(metric(_, "numFiles")).sum
      }
    }
  }

  /** Wait until the listener bus has delivered every posted event. A
    * timeout only smears counters into the neighbouring span. */
  private def drain(): Unit =
    try org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private var active = true

  /** Run `body` with span recording suspended. Outside any span, no
    * listener is registered, so `body` runs as in an untraced run. */
  def untraced[T](body: => T): T = {
    val was = active
    active = false
    try body finally active = was
  }

  /** Run `body` inside a span named `name` for operation `op`. */
  def span[T](name: String, op: Int)(body: => T): T = {
    if (!enabled || !active) return body
    val outermost = openId == -1
    drain()
    if (outermost) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    }
    val (id, parent, outer, c) = (nextId, openId, current, new Counters)
    nextId += 1
    openId = id
    current = c
    val start = nowUs
    try body
    finally {
      drain()
      spans += Span(id, name, parent, op, start, nowUs, c)
      openId = parent
      current = outer
      if (outermost) {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(queryListener)
      }
    }
  }

  def toSeq: Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_us" -> s.startUs, "end_us" -> s.endUs,
      "counters" -> s.counters.toMap)
  }.toSeq
}
