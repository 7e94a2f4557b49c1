package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The two no-oracle gates (DuckDB can't replay zlib or the trained
  * quantizer) carry self-verifying boolean columns instead; this spec
  * asserts they are all-true on the real sf0.001 tables, so a regression
  * flips a boolean in the digested driver artifact AND fails here. */
class GateInvariantsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("t5_compression_signal booleans hold on sf0.001") {
    val out = SparkEntry.queries("t5_compression_signal")(spark, sf)
    val bad = out.filter(!col("ratio_in_bounds") ||
      !col("repetition_detected")).count()
    assert(bad === 0L)
    assert(out.count() > 0L)
  }

  test("d10b_containment_recall: exact recall on the monitored stratum") {
    // unlike t5/ann6 this gate IS oracle-replayed (portable md5 probe
    // hash), but the boolean is also asserted here so a recall
    // regression fails the suite even without the driver's compare
    val row = SparkEntry.queries("d10b_containment_recall")(spark, sf)
      .collect().head
    // n_true first: on an empty stratum the recall boolean is the less
    // informative failure
    assert(row.getAs[Long]("n_true") > 0L,
      "monitored stratum has no true pairs — the gate checks nothing")
    assert(row.getAs[Boolean]("recall_exact_ok"),
      s"index path missed ${row.getAs[Long]("n_missed")} of " +
        s"${row.getAs[Long]("n_true")} true pairs")
  }

  test("ann6_recall_monitor booleans hold on sf0.001") {
    val out = SparkEntry.queries("ann6_recall_monitor")(spark, sf)
      .cache()
    val bad = out.filter(!col("counts_consistent") ||
      !col("recall_in_bounds")).count()
    assert(bad === 0L)
    assert(out.count() === 2L) // base batch + b1
    out.unpersist()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A bench artifact's `gate_metrics` as gate -> field -> value, keyed
    * by name whatever the field order; None when it predates them. */
  private def gateMetrics(
      f: java.io.File): Option[Map[String, Map[String, Double]]] =
    Option(mapper.readTree(f).get("gate_metrics")).map(_.properties.asScala
      .map(g => g.getKey -> g.getValue.properties.asScala
        .map(m => m.getKey -> m.getValue.asDouble).toMap).toMap)

  test("bench artifact reader keys gate metrics by name, not field order") {
    val f = java.io.File.createTempFile("bench_full", ".json")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      """{"gate_metrics":{"g1":{"tasks":3,"spill_mb":0.5,"run_ms":40}}}""")
    assert(gateMetrics(f) === Some(Map("g1" ->
      Map("tasks" -> 3.0, "spill_mb" -> 0.5, "run_ms" -> 40.0))))
    java.nio.file.Files.writeString(f.toPath, """{"queries":{}}""")
    assert(gateMetrics(f) === None)
  }

  // Telemetry TRIPWIRE (the r13 ask): the per-gate executor metrics in
  // the bench artifact were built for forensics; these invariants make
  // them fail the suite instead of waiting to be read. Reads the
  // repo's committed bench_full.json (the last full sf0.1 run) — the
  // suite cannot afford to re-run 240 gates at sf0.1 itself, but a
  // committed artifact that violates the invariants is exactly the
  // regression the tripwire exists to catch at review time.
  test("bench telemetry tripwire: zero spill and bounded task counts " +
      "per gate at sf0.1 (reads bench_full.json)") {
    val f = new java.io.File("bench_full.json")
    assume(f.exists, "no bench artifact at repo root")
    val gm = gateMetrics(f)
    assume(gm.isDefined, "artifact predates gate_metrics")
    val rows = gm.get.toSeq.collect {
      case (n, m) if m.contains("spill_mb") && m.contains("tasks") =>
        (n, m("spill_mb"), m("tasks").toLong)
    }
    assert(rows.size >= 200,
      s"parsed only ${rows.size} gate-metric rows — parser drifted?")
    val spilled = rows.filter(_._2 > 0)
    assert(spilled.isEmpty,
      s"gates spilled at sf0.1 (memory-pressure regression): " +
        spilled.map(r => s"${r._1}=${r._2}MB").mkString(", "))
    // declared ceiling: the committed max is ~1.2k tasks per gate
    // (ir1's store lifecycle across its 2-3 runs); 4000 is a genuine
    // runaway — e.g. a lost repartition or a default-200 shuffle
    // multiplying through an iterative operator
    val heavy = rows.filter(_._3 > 4000)
    assert(heavy.isEmpty,
      s"gates above the 4000-task ceiling: " +
        heavy.map(r => s"${r._1}=${r._3}").mkString(", "))
  }

  // The anchor_flags guard promoted from artifact to TRIPWIRE (the r14
  // stretch): wall-clock ratios flag machine windows as readily as
  // plan regressions, but executor run_ms is machine-window-resistant
  // (the r14 j1 forensics: run_ms flat at ~1.0 s while wall inflated
  // 16 s under contention). A shared gate whose committed run_ms
  // exceeds 3x its anchor run_ms is a REAL plan/work regression and
  // fails the suite at review time instead of waiting for a reader.
  // Gates under 500 ms of anchor executor time are exempt — the
  // scheduling floor dominates them.
  test("anchor run_ms tripwire: no shared gate's executor time " +
      "exceeds 3x its anchor (reads bench_full.json + " +
      "bench_anchor.json)") {
    val f = new java.io.File("bench_full.json")
    val a = new java.io.File("bench_anchor.json")
    assume(f.exists, "no bench artifact at repo root")
    assume(a.exists, "no bench anchor at repo root")
    val gm = gateMetrics(f)
    assume(gm.isDefined, "artifact predates gate_metrics")
    val cur = gm.get.collect {
      case (n, m) if m.contains("run_ms") => n -> m("run_ms").toLong
    }
    val aRun = Option(mapper.readTree(a).get("run_ms"))
    assume(aRun.isDefined, "anchor predates run_ms")
    val anchor = aRun.get.properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val shared = cur.keySet intersect anchor.keySet
    assume(shared.size >= 100,
      s"only ${shared.size} shared gates — parser drifted?")
    val regressed = shared.toSeq
      .filter(n => anchor(n) >= 500L)
      .filter(n => cur(n) > 3L * anchor(n))
      .sortBy(n => -cur(n).toDouble / anchor(n))
    assert(regressed.isEmpty,
      "gates whose executor run_ms regressed >3x vs the committed " +
        "anchor (machine-window-resistant — this is real work): " +
        regressed.map(n =>
          s"$n=${cur(n)}ms(anchor ${anchor(n)}ms)").mkString(", "))
  }
}
