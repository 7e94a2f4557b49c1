package graft

import graft.datagen.DataGen
import graft.pipelines.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}
import java.nio.file.Files

/** The SURVEY §7.2 minimum end-to-end slice: generate → extract →
  * snapshot → dw-load → validate, plus the idempotence contract (§5:
  * re-running the same file is a no-op). */
class PipelineSpec extends SparkSpec with TimeLimits {
  // a load whose stats never arrive is interrupted, not left to hang
  implicit val signaler: Signaler = ThreadSignaler

  private def load(db: Pipelines.SourceDb, root: String): Pipelines.Loaded =
    Pipelines.loadIncoming(spark, db, root,
      s"$root/incoming/sales_snapshot") match {
      case l: Pipelines.Loaded => l
      case other => fail(s"expected Loaded, got $other")
    }

  test("E1→E2→E3→V10 end-to-end, then idempotent re-run") {
    val root = Files.createTempDirectory("graft_pipe").toString
    // E1: source load
    val db = Pipelines.sourceLoad(spark, root, nFacts = 500,
      dateId = 20240115)
    assert(db.facts.count() === 500) // generator honors n exactly
    assert(db.products.count() === 50)

    // E2: extract + snapshot (star join, ordered, pipe CSV)
    val snapshot = Pipelines.extract(spark, db, root)
    assert(snapshot.count() === db.facts.count())
    assert(new java.io.File(s"$root/incoming/sales_snapshot").exists())

    // E3: DW load from the incoming file
    val Pipelines.Loaded(dw1, stats1) = load(db, root)
    assert(stats1("inserts") > 0)
    assert(stats1("updates") === 0)           // first load: all inserts
    assert(stats1("miss_STORE_KEY") === 0)    // every key resolves
    val dw1Count = dw1.count() // materialize before the overwrite-by-swap
    assert(dw1Count === stats1("inserts"))
    // surrogate keys are dense 1..N
    val keys = dw1.select("fact_key").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq === (1L to keys.length))

    // idempotence: same file again → zero inserts, zero updates
    val Pipelines.Loaded(dw2, stats2) = load(db, root)
    assert(stats2("inserts") === 0 && stats2("updates") === 0)
    assert(dw2.count() === dw1Count)

    // V10: the whole suite passes
    val results = Pipelines.validationSuite(db, dw2, 20240115)
    val failed = results.filter(col("passed") === false).collect()
    assert(failed.isEmpty, failed.mkString("; "))

    // rotation: a second extract moves the previous dump to Archive/
    Pipelines.extract(spark, db, root)
    assert(new java.io.File(s"$root/extract/Archive").list().nonEmpty)
  }

  test("three extracts leave two separate Archive entries, each holding " +
      "exactly one earlier dump") {
    val root = Files.createTempDirectory("graft_pipe_rotate").toString
    def dump(rows: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      rows.select(col("sales_id").cast("string"),
          col("date_id").cast("string")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val dumps = Seq(40 -> 20240115, 50 -> 20240116, 60 -> 20240117).map {
      case (n, day) =>
        val db = Pipelines.sourceLoad(spark, root, nFacts = n, dateId = day)
        Pipelines.extract(spark, db, root)
        dump(db.facts)
    }
    val archive = s"$root/extract/Archive"
    assert(new java.io.File(archive).list().sorted.toSeq ===
      Seq("fact_sales", "fact_sales.1"))
    Seq("fact_sales" -> dumps(0), "fact_sales.1" -> dumps(1)).foreach {
      case (entry, expected) =>
        val back = graft.sources.CsvIO.readAllString(spark,
          s"$archive/$entry", sep = ",")
        assert(back.count() === expected.size, entry)
        assert(dump(back) === expected, entry)
    }
    assert(dump(graft.sources.CsvIO.readAllString(spark,
      s"$root/extract/Current/fact_sales", sep = ",")) === dumps(2))
  }

  test("re-sent facts with changed amounts load as UPDATEs in place") {
    val root = Files.createTempDirectory("graft_pipe_upd").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 300,
      dateId = 20240115)
    Pipelines.extract(spark, db, root)
    val before = load(db, root).facts.select("natural_key", "fact_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // k facts re-sent with changed amounts, beside a next day's new facts
    val k = 25
    val resent = PipelineSpec.resent(db, k)
    val fresh = PipelineSpec.nextDay(spark, db, 120)
    Pipelines.extract(spark, db.copy(facts = resent.unionByName(fresh)),
      root)
    val Pipelines.Loaded(dw, stats) = load(db, root)
    val nNew = fresh.select("store_id", "product_id", "dist_id").distinct()
      .count()
    assert(stats("updates") === k)
    assert(stats("inserts") === nNew && nNew > 0)
    assert(dw.count() === before.size + nNew)
    // the new facts take max+1..max+n, ascending in natural_key
    val added = dw.filter(!col("natural_key").isin(before.keys.toSeq: _*))
      .select("natural_key", "fact_key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    assert(added.map(_._2).toSeq ===
      (before.values.max + 1 to before.values.max + nNew))
    val got = dw.join(resent.select(col("date_id"),
        col("store_id").as("store_key"), col("product_id").as("product_key"),
        col("dist_id").as("dist_key"), col("quantity_sold").as("q"),
        col("gross_amount").cast("double").as("g"),
        col("net_amount").cast("double").as("n")),
        Seq("date_id", "store_key", "product_key", "dist_key"))
      .collect()
    assert(got.length === k)
    got.foreach { r =>
      val nk = r.getAs[String]("natural_key")
      assert(r.getAs[Long]("fact_key") === before(nk), s"fact_key of $nk")
      assert(r.getAs[Long]("quantity_sold") === r.getAs[Long]("q"))
      assert(math.abs(r.getAs[Double]("gross_amount") -
        r.getAs[Double]("g")) < 0.01)
      assert(math.abs(r.getAs[Double]("net_amount") -
        r.getAs[Double]("n")) < 0.01)
    }
  }

  test("Loaded.stats pins every counter: known misses, the same file " +
      "again, and a file where every row misses a dim") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pipe_stats").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 20,
      dateId = 20240115)
    def names(df: org.apache.spark.sql.DataFrame, c: String) =
      df.orderBy(df.columns.head).select(c).as[String].collect()
    val stores = names(db.stores, "store_name")
    val products = names(db.products, "product_name")
    val dists = names(db.distributors, "dist_name")
    // 12 good rows, one store each, so their natural keys are distinct
    def row(id: Int, store: String, product: String, dist: String,
        date: String = "2024-01-15", qty: String = "3") =
      (id.toString, date, store, product, dist, qty, "10.00", "30.00",
        "0.00", "30.00")
    val good = (0 until 12).map(i => row(i, stores(i), products(i),
      dists(i % dists.length)))
    val rows = good ++ Seq(
      row(12, "No Such Store", products(0), dists(0)),
      // misses the exact lookup and the name fallback alike
      row(13, stores(12), "No Such Product", dists(0)),
      row(14, stores(13), products(0), "No Such Distributor"),
      row(15, stores(14), products(0), dists(0), date = "1999-12-31"),
      row(16, stores(15), products(0), dists(0), qty = "n/a"),
      // row 0's natural key again: dedupe keeps the lower sales_id
      row(17, stores(0), products(0), dists(0)))
    def write(rs: Seq[(String, String, String, String, String, String,
        String, String, String, String)], name: String): String = {
      val dir = s"$root/incoming/$name"
      graft.sources.CsvIO.write(rs.toDF("sales_id", "full_date",
        "store_name", "product_name", "dist_name", "quantity_sold",
        "sales_unit_price", "gross_amount", "discount_amount",
        "net_amount"), dir)
      dir
    }
    def stats(dir: String): Map[String, Long] = failAfter(Span(2, Minutes)) {
      Pipelines.loadIncoming(spark, db, root, dir) match {
        case Pipelines.Loaded(_, s) => s
        case other => fail(s"expected Loaded, got $other")
      }
    }
    def expected(incoming: Long, inserts: Long, store: Long = 1,
        others: Long = 1) = Map("incoming" -> incoming,
      "inserts" -> inserts, "updates" -> 0L, "miss_STORE_KEY" -> store,
      "miss_PRODUCT_KEY" -> others, "miss_DIST_KEY" -> others,
      "miss_DATE_ID" -> others)
    val fixture = write(rows, "fixture")
    assert(stats(fixture) === expected(incoming = 12, inserts = 12))
    assert(stats(fixture) === expected(incoming = 12, inserts = 0))
    val allMiss = write((0 until 5).map(i =>
      row(100 + i, "No Such Store", products(i), dists(0))), "all_miss")
    failAfter(Span(2, Minutes)) {
      Pipelines.loadIncoming(spark, db, root, allMiss)
    } match {
      case Pipelines.Retry(r) =>
        assert(r === "no row matched the dims: miss_STORE_KEY=5")
      case other => fail(s"expected Retry, got $other")
    }
    assert(spark.read.parquet(s"$root/dw/fact_sales").count() === 12)
  }

  test("J3: a product resolves by (name, brand), and by name alone when " +
      "its brand is unknown") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pipe_j3").toString
    val db0 = Pipelines.sourceLoad(spark, root, nFacts = 20,
      dateId = 20240115)
    // two products whose names normalize alike, under different brands
    def twin(id: Long, name: String, brand: String) =
      org.apache.spark.sql.Row(id, name, brand, "Grocery", "Rice", "Acme",
        s"SKU-$id", new java.math.BigDecimal("10.00"))
    val twins = spark.createDataFrame(java.util.Arrays.asList(
      twin(9001L, "Twin Rice", "Alpha"), twin(9002L, " twin rice ", "Beta")),
      db0.products.schema)
    val db = db0.copy(products = db0.products.unionByName(twins))
    val stores = db.stores.orderBy("store_id")
      .select(col("store_id"), col("store_name")).as[(Long, String)]
      .collect().take(4)
    // one store per row, so the natural keys are distinct
    val brands = Seq("beta", "Alpha", "Gamma", null)
    val rows = stores.zip(brands).zipWithIndex.map {
      case (((_, store), brand), i) => (i.toString, "2024-01-15", store,
        "TWIN RICE", brand, "Distributor 1", "3", "10.00", "30.00", "0.00",
        "30.00")
    }.toSeq
    val dir = s"$root/incoming/twins"
    graft.sources.CsvIO.write(rows.toDF("sales_id", "full_date",
      "store_name", "product_name", "brand", "dist_name", "quantity_sold",
      "sales_unit_price", "gross_amount", "discount_amount", "net_amount"),
      dir)
    val Pipelines.Loaded(dw, stats) = Pipelines.loadIncoming(spark, db,
      root, dir)
    assert(stats("inserts") === 4 && stats("miss_PRODUCT_KEY") === 0)
    val got = dw.select("store_key", "product_key").as[(Long, Long)]
      .collect().toMap
    assert(got === stores.map(_._1).zip(Seq(9002L, 9001L, 9001L, 9001L))
      .toMap)
  }

  test("FIXTURES §6: poison, retry, and snowflake-dim maintenance") {
    val root = Files.createTempDirectory("graft_pipe2").toString
    val db = Pipelines.sourceLoad(spark, root, nFacts = 200,
      dateId = 20240115)
    val snapshot = Pipelines.extract(spark, db, root)

    // (b) empty CSV -> Poison
    val emptyDir = s"$root/incoming/empty"
    graft.sources.CsvIO.write(snapshot.limit(0)
      .select(snapshot.columns.map(c => col(c).cast("string")): _*),
      emptyDir)
    Pipelines.loadIncoming(spark, db, root, emptyDir) match {
      case Pipelines.Poison(r) => assert(r.contains("empty file"))
      case other => fail(s"expected Poison, got $other")
    }

    // (c) missing required columns -> Poison naming them
    val badDir = s"$root/incoming/bad"
    graft.sources.CsvIO.write(
      snapshot.select(col("sales_id").cast("string")), badDir)
    Pipelines.loadIncoming(spark, db, root, badDir) match {
      case Pipelines.Poison(r) =>
        assert(r.contains("STORE_NAME") && r.contains("NET_AMOUNT"))
      case other => fail(s"expected Poison, got $other")
    }

    // happy path through the outcome API
    val incoming = s"$root/incoming/sales_snapshot"
    Pipelines.loadIncoming(spark, db, root, incoming) match {
      case Pipelines.Loaded(_, stats) => assert(stats("inserts") > 0)
      case other => fail(s"expected Loaded, got $other")
    }
    def dw() = spark.read.parquet(s"$root/dw/fact_sales")
      .orderBy("fact_key").collect().toSeq
    val before = dw()

    // (d) valid file but empty dims -> Retry naming exactly those dims,
    // the file stays consumable and the DW untouched. An empty dim misses
    // every row, and adaptive execution prunes its lookup's build side:
    // these pin that the misses still count and the dim reads as empty
    def retry(empty: String*): String = {
      def dim(n: String, d: DataFrame) = if (empty.contains(n)) d.limit(0)
        else d
      Pipelines.loadIncoming(spark, db.copy(
          products = dim("products", db.products),
          stores = dim("stores", db.stores),
          distributors = dim("distributors", db.distributors),
          dates = dim("dates", db.dates)), root, incoming) match {
        case Pipelines.Retry(r) => r
        case other => fail(s"expected Retry, got $other")
      }
    }
    Seq("stores", "products", "distributors", "dates").foreach { n =>
      assert(retry(n) === s"empty dims: $n")
    }
    assert(retry("products", "dates") === "empty dims: products, dates")
    assert(dw() === before)

    // a store dim that matches no row is not empty: every row misses
    val elsewhere = db.copy(stores = db.stores.withColumn("store_name",
      concat(lit("Elsewhere "), col("store_name"))))
    // zero key matches: the file is left to retry, the DW untouched
    Pipelines.loadIncoming(spark, elsewhere, root, incoming) match {
      case Pipelines.Retry(r) =>
        assert(r === "no row matched the dims: miss_STORE_KEY=200")
      case other => fail(s"expected Retry, got $other")
    }
    assert(dw() === before)

    // snowflake dims: first run inserts, second run adds nothing
    val n1 = Pipelines.maintainSnowflakeDims(spark, root, snapshot)
    assert(n1("category") > 0 && n1("manufacturer") > 0)
    val n2 = Pipelines.maintainSnowflakeDims(spark, root, snapshot)
    assert(n2.values.forall(_ === 0L))
    val cats = spark.read.parquet(s"$root/dw/dim_category")
    assert(cats.count() === n1("category"))
    // keys are dense 1..N
    assert(cats.select("key").collect().map(_.getLong(0)).sorted.toSeq
      === (1L to n1("category")))
  }
}

object PipelineSpec {
  /** `k` facts the DW kept (the lowest sales id of their natural key),
    * re-sent with a larger quantity and amounts: `k` UPDATEs. */
  def resent(db: Pipelines.SourceDb, k: Int): DataFrame = {
    val key = Seq("date_id", "store_id", "product_id", "dist_id")
    val kept = db.facts.groupBy(key.map(col): _*)
      .agg(min("sales_id").as("sales_id")).select("sales_id")
    val bump = col("sales_id") % 3 + 1
    def plus(c: String) = (col(c) + bump * col("unit_price"))
      .cast(db.facts.schema(c).dataType)
    db.facts.join(kept.orderBy("sales_id").limit(k), "sales_id")
      .withColumn("quantity_sold", col("quantity_sold") + bump)
      .withColumn("gross_amount", plus("gross_amount"))
      .withColumn("net_amount", plus("net_amount"))
  }

  /** `n` facts of the day after `db`'s, over its dims, with sales ids
    * above its own: INSERTs only. */
  def nextDay(spark: SparkSession, db: Pipelines.SourceDb,
      n: Long): DataFrame =
    DataGen.factSales(spark, n, 20240116, db.products, db.stores,
      db.distributors, startKey = 100000).select(db.facts.columns.map(col)
      .toIndexedSeq: _*)
}
