package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-loop gate profiler: run ONE gate bench-identically (same session
  * config as Bench) and print a per-JOB wall/task breakdown, so the gap
  * between a gate's wall time and its parallel compute (run_ms / cores)
  * is attributable to specific jobs (driver latency, tiny-stage storms,
  * sequential store protocol steps).
  *
  * Usage: runMain graft.BenchOne <sfDir> <name> [<name> ...]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_RUNS (default 2).
  */
object BenchOne {
  private final case class JobRow(id: Int, desc: String, wallMs: Long,
      tasks: Int, runMs: Long, stages: Int)

  private final class JobListener extends SparkListener {
    val t0 = new mutable.HashMap[Int, Long]
    val desc = new mutable.HashMap[Int, String]
    val nStage = new mutable.HashMap[Int, Int]
    val stageToJob = new mutable.HashMap[Int, Int]
    val tasks = new mutable.HashMap[Int, Int]
    val runMs = new mutable.HashMap[Int, Long]
    val rows = mutable.ArrayBuffer[JobRow]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      t0(e.jobId) = e.time
      desc(e.jobId) = {
        val p = Option(e.properties)
        val d = p.map(_.getProperty("spark.job.description"))
          .flatMap(Option(_)).getOrElse("")
        val cs = p.map(_.getProperty("callSite.short"))
          .flatMap(Option(_)).getOrElse("")
        s"$d [$cs]"
      }
      nStage(e.jobId) = e.stageIds.size
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      stageToJob.get(e.stageId).foreach { j =>
        tasks(j) = tasks.getOrElse(j, 0) + 1
        if (e.taskMetrics != null)
          runMs(j) = runMs.getOrElse(j, 0L) + e.taskMetrics.executorRunTime
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      rows += JobRow(e.jobId, desc.getOrElse(e.jobId, ""),
        e.time - t0.getOrElse(e.jobId, e.time),
        tasks.getOrElse(e.jobId, 0), runMs.getOrElse(e.jobId, 0L),
        nStage.getOrElse(e.jobId, 0))
    }
    def reset(): Unit = {
      // clear ALL maps (r15 ADVICE: only rows was cleared — the id-keyed
      // maps grew unboundedly across runs/gates in long profiling loops)
      rows.clear(); t0.clear(); desc.clear(); nStage.clear()
      stageToJob.clear(); tasks.clear(); runMs.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val b0 = GraftSession.builder(cpus)
    // A/B seams for config experiments (comma-separated k=v pairs)
    val b1 = sys.env.get("SPARK_GRAFT_CONF").map(_.split(',').toSeq)
      .getOrElse(Nil).filter(_.contains('='))
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = b1.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    val jl = new JobListener
    spark.sparkContext.addSparkListener(jl)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up (codegen/JIT) outside the profile
      try CacheScope.withScope(_ => fn(spark, warmDir).count()) catch {
        case e: Throwable => println(s"[benchone] warmup failed: $e")
      }
      (1 to nRuns).foreach { r =>
        org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
        jl.reset()
        val t0 = System.nanoTime()
        CacheScope.withScope(_ => fn(spark, sfDir).count())
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
        val rows = jl.rows.toSeq
        val jobWall = rows.map(_.wallMs).sum
        println(f"==== $name run $r: wall=$wall%.3f s, jobs=${rows.size}," +
          f" job-wall-sum=${jobWall / 1000.0}%.3f s," +
          f" gap=${wall - jobWall / 1000.0}%.3f s (driver/plan)")
        rows.sortBy(-_.wallMs).take(20).foreach { j =>
          println(f"  job ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d " +
            f"tasks=${j.tasks}%5d run_ms=${j.runMs}%7d  ${j.desc.take(70)}")
        }
        // driver-side gaps: idle-of-jobs intervals before each job start
        val byStart = rows.sortBy(j => jl.t0.getOrElse(j.id, 0L))
        var lastEnd = byStart.headOption
          .map(j => jl.t0.getOrElse(j.id, 0L)).getOrElse(0L)
        val gaps = byStart.flatMap { j =>
          val s = jl.t0.getOrElse(j.id, 0L); val e = s + j.wallMs
          val g = s - lastEnd
          lastEnd = math.max(lastEnd, e)
          if (g > 100) Some((g, j.id, j.desc.take(60))) else None
        }
        gaps.sortBy(-_._1).take(10).foreach { case (g, id, d) =>
          println(f"  GAP $g%6d ms before job $id%4d  $d")
        }
      }
    }
    spark.stop()
  }
}
