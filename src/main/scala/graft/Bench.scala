package graft

import scala.jdk.CollectionConverters._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * A small warm-up action runs first so the first measured query doesn't
  * absorb JVM/codegen/parquet-footer warm-up; queries run in sorted name
  * order for run-to-run comparability.
  *
  * The artifact (bench_full.json) carries three attribution legs so a
  * drifted headline number names its cause instead of hiding it:
  *   1. CPU calibration (calib_sec/calib_end, ALU range-sum) — machine
  *      speed drift; total_norm rescales by it.
  *   2. Memory-bandwidth calibration (calib_bw_sec/calib_bw_end, a
  *      persisted-array scan) — the resource ALU calibration is blind
  *      to (the r12 d10b lesson: a bandwidth-bound gate blew up 9.4×
  *      under a QUIET CPU calib).
  *   3. Per-gate executor task metrics (gate_metrics: GC time,
  *      input/shuffle/output bytes, spill, peak execution memory) — a
  *      gate that blows up names its resource in the artifact itself.
  * Plus a compute-vs-store-lifecycle split (total_lifecycle /
  * total_compute, classified by observed bytes written): ~30 s of the
  * suite is create+write+query store lifecycles, which is exactly the
  * mass that wobbles with disk contention — splitting it makes IO
  * drift self-evident.
  */
object Bench {

  /** Scoped log silencing (the r12 advice): deny exactly the two
    * benign, by-design warning families by MESSAGE PATTERN instead of
    * raising the whole logger to ERROR — stage retry/failure warnings
    * from the same loggers stay visible, so an unhealthy run still
    * self-documents in the artifact's stderr tail. */
  private def denyLogPattern(logger: String, regex: String): Unit = {
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.Filter
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = org.apache.logging.log4j.LogManager
      .getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val lc = {
      val existing = conf.getLoggerConfig(logger)
      if (existing.getName == logger) existing
      else {
        val fresh = new LoggerConfig(logger,
          org.apache.logging.log4j.Level.WARN, true)
        conf.addLogger(logger, fresh)
        fresh
      }
    }
    lc.addFilter(RegexFilter.createFilter(regex, null,
      java.lang.Boolean.FALSE, Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the driver contract is local[32] (builder prompt); honor an
    // explicit override but never default below it
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Two known-benign warning families would otherwise dominate the
    // artifact's stderr tail (the r10 "warning-free tail" ask):
    // BlockManager re-add races (bpeTrain's persisted-RDD loop runs two
    // actions per iteration; a partition both compute registers twice —
    // harmless by definition of an idempotent block store) and
    // DAGScheduler's large-task-binary notes (t14d broadcasts a
    // 32k-merge table BY DESIGN). Denied by message PATTERN, so every
    // other warning from those loggers (stage retries, failures) still
    // reaches the tail.
    denyLogPattern("org.apache.spark.scheduler.DAGScheduler",
      ".*Broadcasting large task binary.*")
    denyLogPattern("org.apache.spark.storage.BlockManager",
      ".*already exists on this machine.*")
    // warm-up: touch every table (footer reads), then run every query once
    // at the smallest SF so Janino codegen + JIT compile outside the
    // measured window — the measurement below is steady-state plan cost,
    // which is what extrapolates to a long-running cluster.
    // failures here and in the warm-up loop are collected and written
    // into bench_full.json (stdout-side artifact): stderr is lost to the
    // driver's 2000-char stdout tail, so an anonymous aborted-job stack
    // in the log would otherwise be undiagnosable from the artifacts.
    val warmupFailures = scala.collection.mutable.LinkedHashMap[String, String]()
    Tables.names.foreach { t =>
      try Tables.table(spark, sfDir, t).limit(1).count()
      catch { case e: Throwable =>
        warmupFailures(s"table:$t") = e.getClass.getSimpleName
        System.err.println(s"[bench] table touch failed for $t: " +
          s"${e.getClass.getSimpleName}")
      }
    }
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try CacheScope.withScope { _ => fn(spark, warmDir).count() } catch {
        case e: Throwable =>
          warmupFailures(name) = s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString
              .take(160)
          System.err.println(s"[bench] warm-up failed for $name at " +
            s"$warmDir: ${warmupFailures(name)}")
      }
    }
    // CPU calibration: a fixed, code-independent Spark job (codegen'd
    // range-sum across all cores) timed min-of-2. The round-11 lesson:
    // the official r10→r11 artifacts drifted +14% while an A/B of r10's
    // exact code on the r11 machine reproduced the drift — machine
    // speed, not code. This constant workload separates the two
    // mechanically: `total_norm` below rescales the total by
    // CALIB_REF / calib_sec, so cross-round comparisons read the
    // NORMALIZED totals and machine drift cancels out of them.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000000L, 1, cpus)
        .selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // all post-warm samples land in the artifact (calib_runs): a noisy
    // calib is then SELF-documenting instead of silently mis-scaling
    // total_norm; calib_end re-samples after the full run so drift
    // WITHIN the run is visible too (r12 found a 0.286-vs-0.238 gap
    // between same-day runs — 20% — which is exactly the machine
    // window the official r11 artifact was taken in).
    val calibRuns = { calibOnce(); Seq(calibOnce(), calibOnce(), calibOnce()) }
    val calib = calibRuns.min
    // MEMORY-BANDWIDTH calibration: sum a persisted sea of Array[Long]
    // (3 back-to-back full scans per sample — pure sequential memory
    // reads once materialized, no allocation, no codegen in the loop).
    // The ALU range-sum above runs entirely in registers and is BLIND
    // to memory-bandwidth contention — r12's official artifact proved
    // it: d10b (an array_intersect NLJ, bandwidth-bound) ran 9.4× its
    // committed cost in BOTH official runs while the CPU calib read
    // QUIET. This probe names that resource. Sized to heap/4 capped at
    // 4 GiB so it fits the default 8g driver; unpersisted immediately.
    val bwParts = cpus
    val bwBytes = math.min(4L << 30, Runtime.getRuntime.maxMemory / 4)
    val bwLongsPerPart = (bwBytes / bwParts / 8L).toInt
    def bwProbe(): (Double, Double) = {
      val rdd = spark.sparkContext
        .parallelize(0 until bwParts, bwParts)
        .map { p =>
          val a = new Array[Long](bwLongsPerPart)
          var j = 0
          while (j < a.length) { a(j) = p + j; j += 1 }
          a
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      def scanSum(): Long = rdd.map { a =>
        var s = 0L; var j = 0
        while (j < a.length) { s += a(j); j += 1 }
        s
      }.reduce(_ + _)
      scanSum() // materialize + warm
      def once(): Double = {
        val t0 = System.nanoTime()
        scanSum(); scanSum(); scanSum()
        (System.nanoTime() - t0) / 1e9
      }
      val best = Seq(once(), once(), once()).min
      rdd.unpersist(blocking = true)
      // GB scanned per second at the best sample (3 scans per sample)
      val gbps = 3.0 * bwBytes / (1L << 30) / best
      (best, gbps)
    }
    val (calibBw, calibBwGbps) = bwProbe()
    // The committed calibration reference point: calib_sec of the
    // round-11 FINAL LOCAL bench (commit 9673f61's bench_full.json) —
    // the run that anchors the committed quiet band. The r11 official
    // artifact's calib 0.286 normalizes its 135.6 s to 112.9 s at this
    // reference — inside the r10 band (104.4–116.9 s), closing the
    // "1.20× slower" question as pure machine drift. total_norm =
    // total_raw · CALIB_REF/calib is the cross-round number; update
    // this constant ONLY when deliberately re-basing the band (and say
    // so in the commit).
    val CalibRef = 0.238
    // attach the per-gate metrics listener AFTER warm-up so gate
    // deltas carry measured work only
    val gm = new GateMetrics
    spark.sparkContext.addSparkListener(gm)
    // waitUntilEmpty() throws TimeoutException after its 10 s default
    // when the async bus is backlogged — exactly the contended
    // conditions this bench measures. A missed drain only smears one
    // gate's task attribution into its neighbor's; it must never
    // abort the run and lose the whole artifact.
    def drain(): Unit =
      try org.apache.spark.GraftSparkHooks
        .drainListenerBus(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }
    // a failed query records -1 (NOT its elapsed time) so the JSON shows
    // the failure instead of counting it as a fast success.
    // MIN OF 2 RUNS per query (3 when the first two disagree by >2x):
    // single-shot timings on a shared machine mix plan cost with
    // background contention (round 4 recorded a 26% phantom regression
    // from exactly that; rounds 6-8's official artifacts showed trivial
    // queries inflating 7-13x while heavy neighbors moved ~2x — pure
    // noise); the min of back-to-back runs estimates steady-state plan
    // cost, which is the number that extrapolates to a cluster, and the
    // third run triggers exactly when the first two prove the machine
    // was loaded. All raw runs are emitted in bench_full.json so the
    // artifact itself documents the contention spread.
    // Each query's runs execute inside ONE CacheScope bracket: the
    // operators' internal signature/tf caches stay warm BETWEEN a
    // query's runs (steady-state, as before) but are released BEFORE the
    // next query — without the bracket the 148 gates accumulate
    // MEMORY_AND_DISK frames for the whole run and late queries pay the
    // eviction pressure (r8's CacheManager already-cached warnings).
    val rawRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // per-gate task-metric deltas, TOTAL across the gate's 2-3 runs
    val gateMetrics =
      scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        drain()
        val before = gm.counters()
        gm.peakMem.set(0L)
        val runs = CacheScope.withScope { _ =>
          def once(): Double = {
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => -1.0 }
          }
          val a = once()
          if (a < 0) Seq(a) else {
            val b = once()
            if (b < 0) Seq(a, b)
            else if (math.max(a, b) > 2.0 * math.min(a, b)) Seq(a, b, once())
            else Seq(a, b)
          }
        }
        drain()
        gateMetrics(name) =
          gm.counters().zip(before).map { case (x, y) => x - y } :+
            gm.peakMem.get
        rawRuns(name) = runs
        val ok = runs.filter(_ >= 0)
        name -> (if (runs.exists(_ < 0) || ok.isEmpty) -1.0 else ok.min)
    }
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // FORCED-EXECUTION leg (opt-out none — a declared gate list):
    // `.count()` does not force every plan equally — Catalyst elides
    // j1's terminal global sort under count (2.27 s forced vs 0.58 s
    // counted, r14) and the LEFT-JOIN LM scorer gates collapse to
    // ~14 ms of plumbing. For the affected gates a noop
    // foreachPartition drives every ROW through the complete plan;
    // both numbers ship in bench_full.json (`forced_sec` beside
    // `queries`) so the artifact carries the honest cost of the full
    // shape next to the count-path number the totals use. Min of 2
    // runs, same bracket discipline as the main loop.
    val forcedGates = Seq("j1_star_snapshot", "t11_bigram_lm",
      "t16_trigram_lm", "t17_hashed5gram_lm")
    val forced = forcedGates.flatMap { n =>
      SparkEntry.queries.get(n).map { fn =>
        drain()
        val runs = CacheScope.withScope { _ =>
          def once(): Double = {
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).foreachPartition(
                (_: Iterator[org.apache.spark.sql.Row]) => ())
              (System.nanoTime() - t0) / 1e9
            } catch { case _: Throwable => -1.0 }
          }
          val a = once()
          if (a < 0) Seq(a) else Seq(a, once())
        }
        val ok = runs.filter(_ >= 0)
        n -> (if (runs.exists(_ < 0) || ok.isEmpty) -1.0 else ok.min)
      }
    }
    val forcedJson = forced
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Compute vs store-lifecycle split, classified by OBSERVED output
    // bytes: a gate whose tasks wrote >1 MB of files (store creates,
    // CSV/ORC/JSONL round-trips, ledger loops) is "lifecycle" — its
    // cost is dominated by the FS, which is the mass that wobbles with
    // disk contention while the CPU calibration stays flat (PERF.md's
    // documented 7%-uniform-IO-drift window). Data-driven, so a new
    // store gate lands in the right bucket automatically.
    val lifecycleGates = gateMetrics.collect {
      case (n, m) if m(3) > (1L << 20) => n
    }.toSet
    val byName0 = results.toMap
    val totalLifecycle = lifecycleGates.toSeq
      .flatMap(byName0.get).filter(_ >= 0).sum
    val totalCompute = total - totalLifecycle
    // Warm/cold decomposition (the r11 forensics ask): a query's FIRST
    // run at this SF pays data-cold costs (page cache, shuffle files,
    // operator-internal stores) that its later runs don't — so
    //   total_first = Σ first runs   (the cold estimate),
    //   total_warm  = Σ min of runs AFTER the first (steady state;
    //                 equals the single run when only one exists),
    //   value       = Σ min of ALL runs (unchanged driver semantics),
    //   total_norm  = value · CALIB_REF/calib — the machine-drift-free
    //                 number cross-round comparisons should read.
    val okRuns = rawRuns.toSeq.collect {
      case (k, vs) if vs.forall(_ >= 0) && vs.nonEmpty => (k, vs)
    }
    val totalFirst = okRuns.map(_._2.head).sum
    val totalWarm = okRuns
      .map { case (_, vs) => if (vs.size >= 2) vs.tail.min else vs.head }
      .sum
    val totalNorm = total * CalibRef / calib
    // Full per-query timings + raw runs for local analysis (not parsed by
    // the driver): `queries` is the min estimate, `queries_raw` every
    // run, `max_spread` the worst max/min ratio — a loaded machine is
    // self-documenting in the artifact.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rawQs = rawRuns.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    val gmJson = gateMetrics.map { case (k, m) =>
      val Seq(run, gc, in, out, sr, sw, spMem, spDisk, nt, peak) =
        m: @unchecked
      "\"" + k + s"""\":{"run_ms":$run,"gc_ms":$gc,"in_mb":${mb(in)},""" +
        s""""out_mb":${mb(out)},"shuf_r_mb":${mb(sr)},""" +
        s""""shuf_w_mb":${mb(sw)},"spill_mb":${mb(spMem + spDisk)},""" +
        s""""peak_exec_mb":${mb(peak)},"tasks":$nt}"""
    }.mkString("{", ",", "}")
    val maxSpread = rawRuns.values
      .filter(vs => vs.size >= 2 && vs.forall(_ > 0))
      .map(vs => vs.max / vs.min)
      .foldLeft(1.0)(math.max)
    // Contention-only spread: warm-up makes a slow FIRST run expected,
    // so it must not count. With 3+ runs the spread is over runs 2..n;
    // with 2 runs a slower SECOND run is contention (spread b/a) while
    // a slower first is warm-up (spread 1). r11's max_spread 19.3 was
    // pure warm-up (d10b 49.99 cold vs 8.16 warm) — this field is the
    // one that should be ~1 on a quiet machine.
    val maxSpreadWarm = rawRuns.values
      .filter(vs => vs.size >= 2 && vs.forall(_ > 0))
      .map { vs =>
        if (vs.size >= 3) vs.tail.max / vs.tail.min
        else if (vs(0) >= vs(1)) 1.0
        else vs(1) / vs(0)
      }
      .foldLeft(1.0)(math.max)
    val wf = warmupFailures.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\""
    }.mkString("{", ",", "}")
    val calibEnd = { calibOnce(); math.min(calibOnce(), calibOnce()) }
    val (calibBwEnd, _) = bwProbe()
    val calibRunsJson = calibRuns.map(fmt).mkString("[", ",", "]")
    // Per-gate ratio vs the COMMITTED quiet anchor (bench_anchor.json:
    // the post-review quiet-machine run, calib-normalized on both
    // sides) — the r13 lesson: j1 swung 3.7× official-to-official with
    // a full attribution system in place and nobody looked. Any shared
    // gate whose normalized min drifts >1.5× from its anchor now
    // self-reports in the artifact with its executor-time delta, so a
    // machine window (run_ms flat, wall up) separates from a plan
    // regression (run_ms up with it) at a glance. Gates under 0.25 s
    // are exempt (scheduling-floor noise dominates them).
    val (anchorRatioJson, anchorFlagsJson) = try {
      val anchor = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File("bench_anchor.json"))
      def numMap(section: String): Map[String, Double] =
        anchor.path(section).properties.asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap
      val aCalib = Option(anchor.get("calib_sec")).map(_.asDouble)
        .getOrElse(CalibRef)
      val aQs = numMap("queries")
      val aRun = numMap("run_ms")
      val ratios = results.collect {
        case (n, v) if v > 0 && aQs.getOrElse(n, -1.0) > 0 =>
          n -> (v / calib) / (aQs(n) / aCalib)
      }
      val rj = ratios.map { case (k, r) => "\"" + k + f"""\":$r%.2f""" }
        .mkString("{", ",", "}")
      val byName1 = results.toMap
      val flags = ratios.filter { case (n, r) =>
        (r > 1.5 || r < 1.0 / 1.5) && byName1(n) > 0.25 &&
          aQs(n) > 0.25
      }
      val fj = flags.map { case (n, r) =>
        val curRun = gateMetrics.get(n).map(_.head).getOrElse(-1L)
        val aR = aRun.getOrElse(n, -1.0).toLong
        "\"" + n + f"""\":{"ratio":$r%.2f,"sec":${fmt(byName1(n))},""" +
          s""""anchor_sec":${fmt(aQs(n))},"run_ms":$curRun,""" +
          s""""anchor_run_ms":$aR}"""
      }.mkString("{", ",", "}")
      (rj, fj)
    } catch { case _: Throwable => ("{}", "{}") }
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"max_spread":${f"$maxSpread%.2f"},"max_spread_warm":${f"$maxSpreadWarm%.2f"},"calib_sec":${fmt(calib)},"calib_runs":$calibRunsJson,"calib_end":${fmt(calibEnd)},"calib_ref":$CalibRef,"calib_bw_sec":${fmt(calibBw)},"calib_bw_gbps":${f"$calibBwGbps%.1f"},"calib_bw_end":${fmt(calibBwEnd)},"total_raw":${fmt(total)},"total_norm":${fmt(totalNorm)},"total_warm":${fmt(totalWarm)},"total_first":${fmt(totalFirst)},"total_lifecycle":${fmt(totalLifecycle)},"total_compute":${fmt(totalCompute)},"n_lifecycle":${lifecycleGates.size},"queries":$fullQs,"queries_raw":$rawQs,"forced_sec":$forcedJson,"gate_metrics":$gmJson,"anchor_ratio":$anchorRatioJson,"anchor_flags":$anchorFlagsJson,"warmup_failures":$wf,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case _: Throwable => () }
    // The driver keeps only the LAST 2000 chars of stdout and parses the
    // JSON line out of that tail; sbt's trailing "[success] ..." line eats
    // ~100 of them. Keep this line comfortably under the budget: headline
    // queries only, 3-decimal values, numeric sf.
    val headline = Seq(
      "a2_pricing_summary", "q3_order_revenue", "q5_nation_revenue",
      "q8_market_share", "q9_profit_nation_year", "q18_big_orders",
      "q21_late_suppliers", "j1_star_snapshot", "sc1_scd2_resolve",
      "st1_sessionize", "d1_exact_dedup", "d3_minhash_pairs",
      "d5_embedding_dups", "ann1_bruteforce_topk", "t1_text_analysis",
      "c1_corpus_clean", "w4_window_frames", "g1_rollup")
    val byName = results.toMap
    val qs = headline.flatMap(n => byName.get(n).map(v => "\"" + n + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val failed = results.count(_._2 < 0)
    val anchorFlagsN = "\"ratio\"".r.findAllIn(anchorFlagsJson).size
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failed,"calib_sec":${fmt(calib)},"calib_end":${fmt(calibEnd)},"calib_ref":$CalibRef,"calib_bw_sec":${fmt(calibBw)},"calib_bw_end":${fmt(calibBwEnd)},"total_norm":${fmt(totalNorm)},"total_warm":${fmt(totalWarm)},"total_lifecycle":${fmt(totalLifecycle)},"total_compute":${fmt(totalCompute)},"max_spread_warm":${f"$maxSpreadWarm%.2f"},"anchor_flags_n":$anchorFlagsN,"queries":$qs,"sf":$sfNum}""")
    spark.stop()
  }
}
