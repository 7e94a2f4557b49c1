package graft

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job: its call site (`count at Stress.scala:96`), the SQL
  * execution (query) it ran for, if any, its [start, end] epoch ms, and
  * the tasks and executor time of its stages. */
private[graft] final class Job(val id: Int, val site: String,
    val sqlId: Option[Long], val startMs: Long, val stages: Int) {
  var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  def wallMs: Long = endMs - startMs
}

/** Counters attributed to one span while it is the innermost open span.
  * Memory spill (in-memory size of the data forced out) and disk spill
  * (its serialized on-disk size) are kept apart; peak execution memory
  * is the max over tasks, not a sum. */
private[graft] final class Counters {
  var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var inBytes = 0L; var outBytes = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var memSpillBytes = 0L; var diskSpillBytes = 0L
  var peakExecBytes = 0L
  var planMs = 0L
  val jobs = mutable.ArrayBuffer[Job]()

  def add(o: Counters): Unit = {
    tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    inBytes += o.inBytes; outBytes += o.outBytes
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    memSpillBytes += o.memSpillBytes; diskSpillBytes += o.diskSpillBytes
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    planMs += o.planMs
    jobs ++= o.jobs
  }
}

/** A closed span: [start, end] in epoch µs and its own counters. */
private[graft] final case class Span(id: Int, name: String, parent: Int,
    startUs: Long, endUs: Long, counters: Counters) {
  def secs: Double = (endUs - startUs) / 1e6

  /** Time in the span during which none of `c`'s jobs was running. */
  def gapMs(c: Counters = counters): Long = {
    val (lo, hi) = (startUs / 1000L, endUs / 1000L)
    var busy = 0L
    var end = lo
    c.jobs.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .sorted.foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    (hi - lo) - busy
  }
}

/** Spans around a harness's units of work (a Bench gate, a BenchOne
  * run, a Stress step and its timed parts), plus a SparkListener and a
  * QueryExecutionListener whose events are attributed to the innermost
  * open span.
  *
  * Spans open and close on one thread, and the listener bus is drained
  * at every span boundary, so every event the bus delivers while a span
  * is innermost belongs to that span. A drain that times out (a
  * backlogged bus) only smears counters into the neighbouring span; it
  * never aborts the run. Both listeners are registered only while an
  * outermost span is open: work outside spans is counted nowhere. */
private[graft] final class Trace(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  private def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  private val closed = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var openId = -1
  private var current = new Counters
  private val running = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val sqlSites = mutable.Map[Long, String]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        // A SQL job's own call site may be a thread-pool frame (adaptive
        // execution submits stages asynchronously); the action that
        // started its SQL execution names the caller. Other jobs are
        // named by their result stage.
        val sqlId = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        val site = sqlId.flatMap(sqlSites.get)
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("unknown")
        val j = new Job(e.jobId, site, sqlId, e.time, e.stageIds.size)
        current.jobs += j
        running(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        sqlSites(x.executionId) = x.description }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        running.remove(e.jobId).foreach(_.endMs = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        val c = current
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.memSpillBytes += m.memoryBytesSpilled
        c.diskSpillBytes += m.diskBytesSpilled
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1; j.runMs += m.executorRunTime }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    // analysis + optimization + planning, as QueryExecution tracks them
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      Trace.this.synchronized { current.planMs += plan }
    }
  }

  private def drain(): Unit =
    try org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Run `body` inside a span named `name`; returns its value and the
    * closed span (also when `body` throws, the span is recorded). */
  def timed[T](name: String)(body: => T): (T, Span) = {
    val outermost = openId == -1
    drain()
    if (outermost) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    }
    val (id, parent, outer, c) = (nextId, openId, current, new Counters)
    nextId += 1
    synchronized { openId = id; current = c }
    val start = nowUs
    def close(): Span = {
      drain()
      val s = Span(id, name, parent, start, nowUs, c)
      synchronized {
        closed += s
        openId = parent
        current = outer
        if (outermost) { running.clear(); stageJob.clear(); sqlSites.clear() }
      }
      if (outermost) {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(queryListener)
      }
      s
    }
    val out = try body catch { case e: Throwable => close(); throw e }
    (out, close())
  }

  /** The spans opened directly inside `s`, in the order they ran. */
  def children(s: Span): Seq[Span] = closed.filter(_.parent == s.id).toSeq

  /** `s`'s counters plus those of every span nested in it. */
  def total(s: Span): Counters = {
    val c = new Counters
    c.add(s.counters)
    children(s).foreach(k => c.add(total(k)))
    c
  }
}
