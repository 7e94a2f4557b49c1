package graft

import graft.datagen.DataGen
import graft.ops.{DimLookup, DimResolver}
import graft.pipelines.Pipelines
import graft.validate._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files

/** Job-count tripwires on [[Trace]] for the counting in the daily
  * cycle: the validator checks a whole suite in one query, a table
  * within the smallest file split aggregates without a shuffle, and the
  * DW load counts with Observations on the frames it already runs (its
  * Retry too, from the dim-miss counters), so no job of either comes
  * from a counting action of its own; it classifies once, so it scans
  * its target at most three times. The dims are broadcast-sized: the
  * generator collects each once, and a dim lookup's build side needs no
  * shuffle. */
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

  test("above the broadcast threshold each table is read once, " +
      "whatever its PK count") {
    val dir = Files.createTempDirectory("graft_count_scan").toString
    spark.range(0, 2000, 1, 4).select(col("id"), (col("id") % 7).as("k"),
      when(col("id") % 11 === 0, lit(null)).otherwise(lit("Y")).as("flag"))
      .write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val twoPks = Seq(MinRows(10), NoNulls(Seq("flag")),
      PkUnique(Seq("id")), PkUnique(Seq("k", "flag")))
    // neither a broadcast nor a gather: the table keeps its exchange
    val pinned = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.files.openCostInBytes" -> "0")
    val was = pinned.map { case (k, v) =>
      val old = spark.conf.get(k); spark.conf.set(k, v); k -> old }
    try {
      val query = Validator.aggregates(Seq(df -> twoPks,
        df -> Seq(PkUnique(Seq("k")))))
      assert(query.collect().length === 3)
      object Plan extends AdaptiveSparkPlanHelper
      val plan = query.queryExecution.executedPlan
      assert(Plan.collect(plan) { case s: FileSourceScanExec => s }.size ===
        2, plan)
      val observed = Validator.run(df, twoPks).collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(observed === Map(("min_rows", "*") -> 2000L,
        ("no_nulls", "flag") -> 182L, ("pk_unique", "id") -> 0L,
        ("pk_unique", "k+flag") -> 14L))
    } finally was.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("a table above the smallest file split but within the broadcast " +
      "threshold keeps its exchange") {
    val dir = Files.createTempDirectory("graft_count_gather").toString
    // incompressible 16-byte rows, ~7 MB of parquet
    spark.range(0, 450000, 1, 2).select(xxhash64(col("id")).as("a"),
        xxhash64(col("id"), lit(1)).as("b"))
      .write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val conf = spark.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > conf.filesOpenCostInBytes &&
      size <= conf.autoBroadcastJoinThreshold, size)
    val query = Validator.aggregates(Seq(df -> Seq(MinRows(1),
      PkUnique(Seq("a")))))
    assert(query.collect().length === 1)
    object Plan extends AdaptiveSparkPlanHelper
    val plan = query.queryExecution.executedPlan
    assert(Plan.find(plan)(_.isInstanceOf[ShuffleExchangeLike]).nonEmpty,
      plan)
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
    // the one isEmpty is the file's own: a dim is checked for emptiness
    // only on the Retry path
    assert(sites.count(_.startsWith("isEmpty at")) <= 1, sites)
    // the one collect left reads the current max key for stage 8
    assert(sites.filter(_.startsWith("collect at")).distinct.size <= 1,
      sites)
  }

  test("a load that mixes INSERTs and UPDATEs scans the target at most " +
      "three times") {
    val root = Files.createTempDirectory("graft_count_scans").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 200,
      dateId = 20240115)
    Pipelines.extract(spark, db, root)
    val incoming = s"$root/incoming/sales_snapshot"
    Pipelines.loadIncoming(spark, db, root, incoming) // the target
    Pipelines.extract(spark, db.copy(facts = PipelineSpec.resent(db, 20)
      .unionByName(PipelineSpec.nextDay(spark, db, 100))), root)
    val target = new java.io.File(s"$root/dw/fact_sales").toURI.getPath
      .stripSuffix("/")
    val scans = new java.util.concurrent.atomic.AtomicInteger
    object Plan extends AdaptiveSparkPlanHelper
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans.addAndGet(Plan.collect(qe.executedPlan) {
          case s: FileSourceScanExec if s.relation.location.rootPaths
            .exists(_.toUri.getPath.stripSuffix("/") == target) => s
        }.size)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val stats = try {
      val out = Pipelines.loadIncoming(spark, db, root, incoming)
      org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(listener)
    stats match {
      case Pipelines.Loaded(_, s) =>
        assert(s("inserts") > 0 && s("updates") === 20, s)
      case other => fail(s"expected Loaded, got $other")
    }
    // the max-key read, the numbering pass and the merge write
    assert(scans.get <= 3, scans.get)
  }

  test("validationSuite runs the jobs of one query; a broadcast-sized " +
      "table's checks plan no shuffle") {
    val root = Files.createTempDirectory("graft_count_suite").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 200,
      dateId = 20240115)
    Pipelines.extract(spark, db, root)
    val dw = Pipelines.loadIncoming(spark, db, root,
      s"$root/incoming/sales_snapshot") match {
      case Pipelines.Loaded(facts, _) => facts
      case other => fail(s"expected Loaded, got $other")
    }
    Pipelines.validationSuite(db, dw, 20240115).collect() // warm-up
    val (results, span) = new Trace(spark).timed("validate") {
      Pipelines.validationSuite(db, dw, 20240115).collect()
    }
    val jobs = span.counters.jobs
    assert(jobs.nonEmpty)
    assert(jobs.map(_.sqlId).distinct.size === 1 &&
      jobs.forall(_.sqlId.isDefined), jobs.map(_.site))
    assert(results.map(_.getAs[String]("table")).distinct.toSeq === Seq(
      "products", "stores", "distributors", "dates", "fact_sales_dw"))
    assert(results.forall(_.getAs[Boolean]("passed")))
    // two PKs on a broadcast-sized table: every branch in one partition
    val query = Validator.aggregates(Seq(db.products -> Seq(MinRows(1),
      NoNulls(Seq("brand")), PkUnique(Seq("product_id")),
      PkUnique(Seq("product_name", "brand")))))
    assert(query.collect().length === 2)
    object Plan extends AdaptiveSparkPlanHelper
    val plan = query.queryExecution.executedPlan
    assert(Plan.find(plan)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty,
      plan)
  }

  test("DataGen.factSales collects each dim once; writing its facts " +
      "runs no numbering job") {
    val trace = new Trace(spark)
    val (facts, build) = trace.timed("build") {
      DataGen.factSales(spark, 500, 20240115,
        DataGen.products(spark, 60, 42), DataGen.stores(spark, 20, 43),
        DataGen.distributors(spark, 8, 44))
    }
    val sites = build.counters.jobs.map(_.site)
    assert(sites.size === 3 &&
      sites.forall(_.startsWith("collect at DataGen.scala")), sites)
    val dir = Files.createTempDirectory("graft_count_gen").toString
    val write = trace.timed("write") {
      facts.write.mode("overwrite").parquet(dir)
    }._2
    val written = write.counters.jobs.map(_.site)
    assert(!written.exists(_.contains("Ops.scala")), written)
    assert(spark.read.parquet(dir).count() === 500)
  }

  test("resolveDimKeys: no shuffle exchange under a lookup's broadcast") {
    val dim = spark.range(0, 40, 1, 4).select(col("id").as("key"),
      concat(lit("Name "), (col("id") % 30).cast("string")).as("name"),
      concat(lit("B"), (col("id") % 3).cast("string")).as("brand"),
      (-col("id")).as("ord"))
    val facts = spark.range(0, 200, 1, 4).select(
      concat(lit(" name "), (col("id") % 35).cast("string")).as("f_name"),
      lit("b1").as("f_brand"))
    val resolved = DimResolver.resolveDimKeys(facts, Seq(
      DimLookup(dim, Seq("f_name", "f_brand"), Seq("name", "brand"), "key",
        "k1", fallback = Some(("f_name", "name", "ord"))),
      DimLookup(dim, Seq("f_name"), Seq("name"), "key", "k2")))
    assert(resolved.collect().length === 200)
    object Plan extends AdaptiveSparkPlanHelper
    val plan = resolved.queryExecution.executedPlan
    val broadcasts = Plan.collect(plan) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.size === 3, plan)
    broadcasts.foreach { b =>
      assert(Plan.find(b)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty, b)
    }
  }
}
