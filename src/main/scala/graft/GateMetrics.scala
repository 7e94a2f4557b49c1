package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Cumulative executor task metrics; a caller that runs its steps one
  * at a time attributes tasks to a step by diffing `counters()` around
  * it (drain the listener bus first for an exact split). Memory spill
  * (in-memory size of the data forced out) and disk spill (its
  * serialized on-disk size) are kept apart. */
private[graft] final class GateMetrics extends SparkListener {
  val runMs = new AtomicLong; val gcMs = new AtomicLong
  val inB = new AtomicLong; val outB = new AtomicLong
  val shufRB = new AtomicLong; val shufWB = new AtomicLong
  val spillMemB = new AtomicLong; val spillDiskB = new AtomicLong
  val tasks = new AtomicLong
  val peakMem = new AtomicLong // max, not additive: reset per step
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inB.addAndGet(m.inputMetrics.bytesRead)
      outB.addAndGet(m.outputMetrics.bytesWritten)
      shufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillMemB.addAndGet(m.memoryBytesSpilled)
      spillDiskB.addAndGet(m.diskBytesSpilled)
      peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      tasks.incrementAndGet()
      ()
    }
  }
  def counters(): Seq[Long] = Seq(runMs.get, gcMs.get, inB.get, outB.get,
    shufRB.get, shufWB.get, spillMemB.get, spillDiskB.get, tasks.get)
}
