package graft

import graft.pipelines.Pipelines
import graft.validate._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Job-count tripwires on [[Trace]] for the counting in the daily
  * cycle: the validator checks a table in one aggregate query, and the
  * DW load counts with Observations on the frames it already runs, so
  * no job of either comes from a counting action of its own. */
class CountingJobsSpec extends SparkSpec {

  test("Validator.run with two PkUnique checks and every scalar check " +
      "runs the jobs of one query") {
    val df = spark.range(0, 2000, 1, 4).select(col("id"),
      (col("id") % 7).as("k"),
      when(col("id") % 11 === 0, lit(null)).otherwise(lit("Y")).as("flag"),
      when(col("id") % 13 === 0, lit("n/a")).otherwise(lit("₹1,200.50"))
        .as("amount"),
      when(col("id") % 17 === 0, lit("a@example.com")).otherwise(lit("ok"))
        .as("note"),
      lit("2024-01-01").as("d"))
    val checks = Seq(MandatoryColumns(Seq("ID", "MISSING")), MinRows(10),
      NoNulls(Seq("id", "flag")), NumericParsable(Seq("amount")),
      FlagDomain(Seq("flag")), Freshness("d", "2024-01-01"),
      PiiFree(Seq("note")), PkUnique(Seq("id")), PkUnique(Seq("k")))
    Validator.run(df, checks) // warm-up, outside any span
    val (results, span) = new Trace(spark).timed("validate") {
      Validator.run(df, checks).collect()
    }
    val jobs = span.counters.jobs.filter(_.site.contains("Checks.scala"))
    assert(jobs.nonEmpty)
    assert(jobs.map(_.sqlId).distinct.size === 1 &&
      jobs.forall(_.sqlId.isDefined), span.counters.jobs.map(_.site))
    val observed = results.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(observed(("pk_unique", "id")) === 0L)
    assert(observed(("pk_unique", "k")) === 7L)
    assert(observed(("min_rows", "*")) === 2000L)
  }

  test("loadIncoming runs no job from a counting call site") {
    val root = Files.createTempDirectory("graft_count_jobs").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 200,
      dateId = 20240115)
    Pipelines.extract(spark, db, root)
    val incoming = s"$root/incoming/sales_snapshot"
    Pipelines.loadIncoming(spark, db, root, incoming) // warm-up, first load
    val span = new Trace(spark).timed("load") {
      Pipelines.loadIncoming(spark, db, root, incoming)
    }._2
    val sites = span.counters.jobs.map(_.site)
    val counting = Set("count", "head", "first", "take")
    assert(!sites.exists(s => counting(s.takeWhile(_ != ' '))), sites)
    // the one collect left reads the current max key for stage 8
    assert(sites.filter(_.startsWith("collect at")).distinct.size <= 1,
      sites)
  }
}
