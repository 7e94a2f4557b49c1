package graft

import org.apache.spark.sql.functions._

/** The span tracer every harness counts with (Bench, BenchOne, Stress):
  * a span's jobs are exactly the jobs run while it is the innermost
  * open span, and nothing outside an outermost span is counted. */
class TraceSpec extends SparkSpec {

  /** A fresh aggregate frame: one action on it runs a map-stage job
    * and a result-stage job under adaptive execution. */
  private def frame() = spark.range(0, 10000, 1, 4)
    .groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))

  test("an extra count() inside a span adds exactly the jobs it runs " +
      "alone") {
    val trace = new Trace(spark)
    frame().collect() // warm-up, outside any span
    val base = trace.timed("base")(frame().collect())._2
    val injected = trace.timed("injected") {
      val df = frame()
      df.count()
      df.collect()
    }._2
    val alone = trace.timed("alone")(frame().count())._2
    assert(base.counters.jobs.nonEmpty)
    assert(alone.counters.jobs.nonEmpty)
    assert(injected.counters.jobs.size - base.counters.jobs.size ===
      alone.counters.jobs.size)
    assert(injected.counters.jobs.exists(_.site.contains("TraceSpec.scala")),
      injected.counters.jobs.map(_.site))
  }

  test("work inside a child span is not counted in its parent") {
    val trace = new Trace(spark)
    val base = trace.timed("base")(frame().collect())._2
    var child: Span = null
    val parent = trace.timed("parent") {
      frame().collect()
      child = trace.timed("child")(frame().collect())._2
    }._2
    assert(child.parent === parent.id)
    assert(parent.counters.jobs.size === base.counters.jobs.size)
    assert(child.counters.jobs.size === base.counters.jobs.size)
    assert(parent.counters.jobs.map(_.id).intersect(
      child.counters.jobs.map(_.id)).isEmpty)
    val total = trace.total(parent)
    assert(total.jobs.size === 2 * base.counters.jobs.size)
    assert(total.tasks === parent.counters.tasks + child.counters.tasks)
  }

  test("a job run after the outermost span closes is counted nowhere") {
    val trace = new Trace(spark)
    val outer = trace.timed("outer")(frame().collect())._2
    val (jobs, tasks) = (outer.counters.jobs.size, outer.counters.tasks)
    frame().collect()
    val next = trace.timed("next")(())._2
    assert(outer.counters.jobs.size === jobs)
    assert(outer.counters.tasks === tasks)
    assert(next.counters.jobs.isEmpty && next.counters.tasks === 0L)
  }

  test("plan_ms is positive for a span that ran a SQL query, and gap_ms " +
      "covers the time between its jobs") {
    val trace = new Trace(spark)
    val sql = trace.timed("sql") {
      spark.sql("""WITH a AS (SELECT id % 13 AS k, id AS v FROM range(5000)),
        |b AS (SELECT k, sum(v) AS s, count(*) AS n FROM a GROUP BY k),
        |c AS (SELECT a.k, a.v, b.s, row_number() OVER
        |  (PARTITION BY a.k ORDER BY a.v DESC) AS r
        |  FROM a JOIN b ON a.k = b.k WHERE b.n > 1)
        |SELECT k, max(v), min(s), count(*) FROM c WHERE r <= 10
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    }._2
    assert(sql.counters.planMs > 0L)
    val gap = trace.timed("gap") {
      frame().collect()
      Thread.sleep(300)
      frame().collect()
    }._2
    assert(gap.gapMs() >= 300L)
    assert(gap.gapMs() <= (gap.endUs - gap.startUs) / 1000L)
  }
}
