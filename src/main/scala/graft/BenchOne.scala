package graft

/** Dev-loop gate profiler: run ONE gate bench-identically (same session
  * config as Bench) and print a per-JOB wall/task breakdown from each
  * run's [[Trace]] span, so the gap between a gate's wall time and its
  * parallel compute (run_ms / cores) is attributable to specific jobs
  * (driver latency, tiny-stage storms, sequential store protocol
  * steps).
  *
  * Usage: runMain graft.BenchOne <sfDir> <name> [<name> ...]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_RUNS (default 2).
  */
object BenchOne {
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
    val trace = new Trace(spark)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up (codegen/JIT) outside the profile
      try CacheScope.withScope(_ => fn(spark, warmDir).count()) catch {
        case e: Throwable => println(s"[benchone] warmup failed: $e")
      }
      (1 to nRuns).foreach { r =>
        val (_, span) = trace.timed(name)(
          CacheScope.withScope(_ => fn(spark, sfDir).count()))
        val jobs = span.counters.jobs.toSeq
        val jobWall = jobs.map(_.wallMs).sum
        println(f"==== $name run $r: wall=${span.secs}%.3f s, " +
          f"jobs=${jobs.size}, job-wall-sum=${jobWall / 1000.0}%.3f s, " +
          f"plan=${span.counters.planMs / 1000.0}%.3f s, " +
          f"gap=${span.gapMs() / 1000.0}%.3f s (no job running)")
        jobs.sortBy(-_.wallMs).take(20).foreach { j =>
          println(f"  job ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d " +
            f"tasks=${j.tasks}%5d run_ms=${j.runMs}%7d  ${j.site.take(70)}")
        }
        // driver-side gaps: time since the span opened or the last job
        // ended, before each job start
        var lastEnd = span.startUs / 1000L
        val gaps = jobs.sortBy(_.startMs).flatMap { j =>
          val g = j.startMs - lastEnd
          lastEnd = math.max(lastEnd, j.endMs)
          if (g > 100) Some((g, j)) else None
        }
        gaps.sortBy(-_._1).take(10).foreach { case (g, j) =>
          println(f"  GAP $g%6d ms before job ${j.id}%4d  ${j.site.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
