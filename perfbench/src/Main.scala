package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload, time it in a closed
  * loop with one client, check its outputs, and write the raw samples,
  * spans and host context as JSON for `run.py` to reduce to metrics.
  *
  * {{{
  * Main --workload dw_daily|gates --seed N
  *      --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *      --cores N --t0 EPOCH_MS [--record-digests FILE]
  * }}}
  *
  * `--trace 0` times operations until `--seconds` have passed. `--trace 1`
  * runs a fixed amount of work instead, so that its counters can repeat
  * exactly: alternating untraced and traced operations, per-layer
  * counters from the traced ones, and the difference between the two as
  * tracing overhead. */
object Main {
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[String]()

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def progress(msg: String): Unit =
    System.err.println(s"[perfbench] $msg")

  private def fail(what: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.nextOption().getOrElse("").take(200)
    failures += s"$what: ${e.getClass.getSimpleName}: $msg"
    System.err.println(s"[perfbench] $what failed: $msg")
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val t0Ms = opt("t0").toLong
    val spark = session(cores, work)
    val tracer = new Tracer(spark, trace)
    val extra = mutable.LinkedHashMap[String, Any]()

    val setupS = workload match {
      case "dw_daily" =>
        runDw(spark, tracer, s"$work/dw", seed, seconds, trace, t0Ms, extra)
      case "gates" =>
        runGates(spark, tracer, opt("data"), seed, seconds, trace, t0Ms,
          opt.get("record-digests"), extra)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val calib = calibrate(spark, cores)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "ops" -> ops.toSeq, "failures" -> failures.toSeq,
      "peak_rss_mb" -> peakRssMb, "calib_s" -> calib,
      "spans" -> tracer.toSeq) ++ extra
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      mapper.writeValueAsString(result))
    spark.stop()
  }

  private def runGates(spark: SparkSession, tracer: Tracer, data: String,
      seed: Long, seconds: Double, trace: Boolean, t0Ms: Long,
      recordDigests: Option[String],
      extra: mutable.Map[String, Any]): Double = {
    val gates = Gates.all
    val dir = s"$data/sf0.01"
    // setup: one pass that collects each gate's output and checks its
    // digest, which also warms codegen, the JIT and footer caches
    val expected = Expected.load(dir)
    val got = gates.map { case (n, _, g) =>
      val (d, t) = timed {
        try Some(Gates.digest(spark, g, dir))
        catch { case e: Throwable => fail(s"digest $n", e); None }
      }
      progress(f"check $n $t%.3f s")
      n -> d
    }
    recordDigests.foreach(f => Expected.write(f, dir, got.collect {
      case (n, Some(d)) => n -> d
    }))
    val mismatched = got.collect {
      case (n, Some((d, rows))) if !Expected.matches(expected, n, d, rows) => n
      case (n, None) => n
    }
    mismatched.foreach(n => failures += s"output check $n")
    extra("checked") = got.size
    extra("check_failed") = mismatched

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    progress(s"setup done in $setupS s")
    val start = System.nanoTime()
    def pass(p: Int, order: Seq[(String, String, Gates.Gate)],
        traced: Boolean): Unit = {
      val (_, s) = timed(tracer.span("pass", p) {
        order.zipWithIndex.foreach { case ((n, layer, g), i) =>
          val (ok, t) = timed {
            try { tracer.span(layer, p)(Gates.force(spark, g, dir)); true }
            catch { case e: Throwable => fail(s"gate $n", e); false }
          }
          ops += Map("name" -> n, "layer" -> layer, "pass" -> p,
            "index" -> i, "seconds" -> t, "ok" -> ok, "traced" -> traced)
          progress(f"pass $p gate $n $t%.3f s")
        }
      })
      passes += Map("pass" -> p, "seconds" -> s, "traced" -> traced)
    }
    if (trace) {
      // one order throughout, untraced passes around the traced one so
      // that warm-up and drift cancel out of the overhead
      val order = Gates.order(gates, seed, 0)
      Seq(false, true, false).zipWithIndex.foreach {
        case (true, p) => pass(p, order, traced = true)
        case (false, p) => tracer.untraced(pass(p, order, traced = false))
      }
    } else {
      var p = 0
      while (p == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        pass(p, Gates.order(gates, seed, p), traced = false)
        p += 1
      }
    }
    extra("passes") = passes.toSeq
    setupS
  }

  private def runDw(spark: SparkSession, tracer: Tracer, root: String,
      seed: Long, seconds: Double, trace: Boolean, t0Ms: Long,
      extra: mutable.Map[String, Any]): Double = {
    val dw = new DwDaily(spark, root, seed, tracer)
    val days = mutable.ArrayBuffer[Map[String, Any]]()
    def record(d: dw.Day, traced: Boolean): Unit = {
      days += Map("load" -> d.load, "date_id" -> d.dateId,
        "cycle_s" -> d.cycleS, "report_s" -> d.reportS,
        "delta_rows" -> d.deltaRows, "delta_csv_bytes" -> d.deltaCsvBytes,
        "stats" -> d.stats, "dw_rows" -> d.dwRows, "dw_bytes" -> d.dwBytes,
        "dw_files" -> d.dwFiles, "report_rows" -> d.reportRows,
        "ok" -> d.ok, "traced" -> traced)
      ops += Map("name" -> s"day${d.load}", "pass" -> d.load,
        "seconds" -> d.cycleS, "ok" -> d.ok, "traced" -> traced)
      if (!d.ok) failures += s"validation or report, day ${d.load}"
    }
    // setup: the history snapshot, which also warms every stage
    tracer.untraced(dw.day(0, 0))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    progress(s"setup done in $setupS s")
    val start = System.nanoTime()
    var load = 1
    var broken = false
    def runDay(traced: Boolean): Unit =
      try {
        val d = if (traced) tracer.span("day", load)(dw.day(load, load))
          else tracer.untraced(dw.day(load, load))
        record(d, traced)
        progress(f"day $load cycle ${d.cycleS}%.3f s report ${d.reportS}%.3f s")
        load += 1
      } catch { case e: Throwable =>
        fail(s"day $load", e)
        ops += Map("name" -> s"day$load", "pass" -> load, "seconds" -> 0.0,
          "ok" -> false, "traced" -> traced)
        broken = true
      }
    if (trace) {
      // a fixed number of days, untraced ones around the traced ones so
      // that warm-up and target growth cancel out of the overhead
      Seq(false, true, true, false).foreach(t => if (!broken) runDay(t))
    } else {
      while (!broken && (days.isEmpty ||
          (System.nanoTime() - start) / 1e9 < seconds)) runDay(false)
    }
    extra("days") = days.toSeq
    extra("history_rows") = dw.factsPerDay.toLong * dw.historyDays
    if (!broken) {
      val bad = dw.check()
      extra("dw_check_mismatches") = bad
      if (bad != 0) failures += s"dw check: $bad mismatching rows"
    }
    setupS
  }

  /** The legacy bench's range-sum calibration, scaled to the same work per
    * core: warm once, then the faster of two. */
  private def calibrate(spark: SparkSession, cores: Int): Double = {
    def once(): Double = timed {
      spark.range(0, 2000000000L / 32 * cores, 1, cores)
        .selectExpr("sum(id * 2 + 1)").collect()
    }._2
    once()
    math.min(once(), once())
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** Gate digests recorded at the benchmark's base commit
  * (`expected/digests.json`), keyed by data directory name. */
object Expected {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private val mapper = new ObjectMapper()
  private def file = sys.props("perfbench.expected")

  def load(dir: String): JsonNode = {
    val root = mapper.readTree(new java.io.File(file))
    root.path(new java.io.File(dir).getName)
  }

  def matches(e: JsonNode, gate: String, digest: String, rows: Long): Boolean = {
    val g = e.path(gate)
    g.path("digest").asText == digest && g.path("rows").asLong(-1) == rows
  }

  def write(out: String, dir: String, got: Seq[(String, (String, Long))]): Unit = {
    val m = mapper.createObjectNode()
    got.foreach { case (n, (d, r)) =>
      m.putObject(n).put("digest", d).put("rows", r)
    }
    val root = mapper.createObjectNode()
    root.set[JsonNode](new java.io.File(dir).getName, m)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), root)
  }
}
