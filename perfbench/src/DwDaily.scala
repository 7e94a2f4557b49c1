package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.CacheScope
import graft.datagen.DataGen
import graft.datedim.DateDim
import graft.pipelines.Pipelines
import graft.pipelines.Pipelines.{Loaded, SourceDb}

/** The paper's daily cycle: generate → extract → MERGE-load into the DW
  * fact → validate, then an analyst report over the DW.
  *
  * Setup loads `historyDays` days as one snapshot, so the target starts
  * at `historyDays`× one day's delta. Each later day generates
  * `factsPerDay` new facts (sales ids continue), grows every dim by 10
  * rows, and re-sends a seeded `correctionShare` of earlier facts with a
  * changed quantity and amounts, which load as UPDATEs.
  *
  * `correctionShare` is an assumption, not a measured rate: the reference
  * generator sends new facts only (no UPDATEs) and no source gives a
  * correction rate. 10% (100 rows a day) keeps the day insert-dominated,
  * as in the reference, while the UPDATE path through ChangeClassifier,
  * SurrogateKeys and MergeInto carries enough rows to be measured; 1%
  * would leave it near empty, 50% would make re-sends half the day. */
final class DwDaily(spark: SparkSession, root: String, seed: Long,
    tracer: Tracer) {
  val factsPerDay = 1000
  val historyDays = 60
  val correctionShare = 0.1
  private val dimGrowth = 10
  private val (products0, stores0, dists0) = (200, 50, 20)
  private val day0 = java.time.LocalDate.parse("2024-01-01")

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dateId(day: Int): Int =
    day0.plusDays(day).format(
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toInt
  private val incoming = s"$root/incoming/sales_snapshot"

  /** Source fact dirs written so far: (load index, path). Load 0 is the
    * history snapshot; load k is timed day k. */
  private val factDirs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
  private val corrDirs = scala.collection.mutable.ArrayBuffer[(Int, String)]()
  private var lastSalesId = 0L
  private var dates: DataFrame = _

  final case class Day(load: Int, dateId: Int, cycleS: Double,
      reportS: Double, deltaRows: Long, deltaCsvBytes: Long,
      stats: Map[String, Long], dwRows: Long, dwBytes: Long, dwFiles: Int,
      ok: Boolean, reportRows: Int)

  private def dims(load: Int): (DataFrame, DataFrame, DataFrame) = (
    DataGen.products(spark, products0 + dimGrowth * load, seed),
    DataGen.stores(spark, stores0 + dimGrowth * load, seed + 1),
    DataGen.distributors(spark, dists0 + dimGrowth * load, seed + 2))

  /** E1: dims, the day's facts and corrections, written as the source
    * DB and read back (what `Pipelines.sourceLoad` does for one day). */
  private def generate(load: Int, op: Int): SourceDb =
    tracer.span("datagen", op) {
      if (dates == null) {
        DateDim.generate(spark, "2023-01-01", "2025-12-31").write
          .mode("overwrite").parquet(s"$root/source/dates")
        dates = spark.read.parquet(s"$root/source/dates")
      }
      val (p, s, d) = dims(load)
      val n = if (load == 0) factsPerDay.toLong * historyDays
        else factsPerDay.toLong
      val firstDay = if (load == 0) 0 else historyDays + load - 1
      val facts0 = DataGen.factSales(spark, n, dateId(firstDay), p, s, d,
        seed + 3, startKey = lastSalesId)
      // the history snapshot spreads its facts over `historyDays` dates
      val facts = if (load > 0) facts0 else facts0.withColumn("date_id",
        date_format(date_add(lit(day0.toString).cast("date"),
          ((col("sales_id") - 1 - lastSalesId) / factsPerDay).cast("int")),
          "yyyyMMdd").cast("int"))
      val factDir = s"$root/source/facts/load_$load"
      facts.write.mode("overwrite").parquet(factDir)
      val corrDir = s"$root/source/corrections/load_$load"
      val corrections = if (load == 0) None else {
        val ids = pickCorrections(load)
        val orig = spark.read.parquet(factDirs.map(_._2).toSeq: _*)
          .filter(col("sales_id").isin(ids: _*))
        val bump = (col("sales_id") + load) % 3 + 1
        def plus(c: String) = (col(c) + bump * col("unit_price"))
          .cast(orig.schema(c).dataType)
        orig.withColumn("quantity_sold", col("quantity_sold") + bump)
          .withColumn("gross_amount", plus("gross_amount"))
          .withColumn("net_amount", plus("net_amount"))
          .write.mode("overwrite").parquet(corrDir)
        Some(corrDir)
      }
      Seq("products" -> p, "stores" -> s, "distributors" -> d).foreach {
        case (name, df) => df.write.mode("overwrite")
          .parquet(s"$root/source/$name")
      }
      factDirs += ((load, factDir))
      corrections.foreach(c => corrDirs += ((load, c)))
      lastSalesId += n
      val read = (name: String) => spark.read.parquet(s"$root/source/$name")
      val factsRead = corrections.foldLeft(spark.read.parquet(factDir))(
        (f, c) => f.unionByName(spark.read.parquet(c)))
      SourceDb(read("products"), read("stores"), read("distributors"),
        dates, factsRead)
    }

  private def pickCorrections(load: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed * 7919L + load)
    val k = (factsPerDay * correctionShare).toInt
    Iterator.continually(1L + (rnd.nextDouble() * lastSalesId).toLong)
      .distinct.take(k).toSeq
  }

  private def loadDw(db: SourceDb, op: Int): Loaded =
    tracer.span("load", op) {
      Pipelines.loadIncoming(spark, db, root, incoming)
    } match {
      case l: Loaded => l
      case other => throw new IllegalStateException(s"load returned $other")
    }

  /** 7-day net sales by date × class_of_trade × category. */
  private def report(dw: DataFrame, db: SourceDb, day: Int,
      op: Int): Int = tracer.span("report", op) {
    dw.filter(col("date_id").between(dateId(day - 6), dateId(day)))
      .join(broadcast(db.stores.select(col("store_id").as("store_key"),
        col("class_of_trade"))), "store_key")
      .join(broadcast(db.products.select(col("product_id")
        .as("product_key"), col("category"))), "product_key")
      .groupBy("date_id", "class_of_trade", "category")
      .agg(sum("net_amount").as("net_sales"), count(lit(1)).as("n"))
      .orderBy("date_id", "class_of_trade", "category")
      .collect().length
  }

  private def dirBytes(path: String): Long =
    fs.getContentSummary(new Path(path)).getLength

  /** One load: E1 → E2 → E3 → V10, then the report. The day is `ok` when
    * every validation check passed and the report has rows. */
  def day(load: Int, op: Int): Day = CacheScope.withScope { _ =>
    val t0 = System.nanoTime()
    val db = generate(load, op)
    tracer.span("extract", op)(Pipelines.extract(spark, db, root))
    val loaded = loadDw(db, op)
    val date = if (load == 0) historyDays - 1 else historyDays + load - 1
    val valid = tracer.span("validate", op) {
      Pipelines.validationSuite(db, loaded.facts, dateId(date))
        .select("passed").collect().forall(_.getBoolean(0))
    }
    val t1 = System.nanoTime()
    val reportRows = report(loaded.facts, db, date, op)
    val t2 = System.nanoTime()
    val files = loaded.facts.inputFiles
    val deltaRows = if (load == 0) factsPerDay.toLong * historyDays
      else factsPerDay + (factsPerDay * correctionShare).toLong
    Day(load, dateId(date), (t1 - t0) / 1e9, (t2 - t1) / 1e9, deltaRows,
      dirBytes(incoming), loaded.stats, loaded.facts.count(),
      files.map(f => dirBytes(f)).sum, files.length, valid && reportRows > 0,
      reportRows)
  }

  /** Independent recomputation of the DW from the generated source: one
    * row per distinct natural key, `fact_key` dense 1..N, and each key
    * carrying the amounts of the newest load that sent it (within one
    * load, the lowest sales id). Returns the mismatching row count. */
  def check(): Long = {
    def loads(dirs: Seq[(Int, String)]) = dirs.map { case (l, p) =>
      spark.read.parquet(p).withColumn("load", lit(l))
    }
    val sent = (loads(factDirs.toSeq) ++ loads(corrDirs.toSeq))
      .reduce(_ unionByName _)
    val key = Seq("date_id", "store_id", "product_id", "dist_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key.map(col): _*)
      .orderBy(col("load").desc, col("sales_id"))
    val expected = sent.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select((key.map(col) ++ Seq("quantity_sold", "gross_amount",
        "discount_amount", "net_amount").map(c =>
          col(c).cast("double").as(s"e_$c"))): _*)
    val dw = spark.read.parquet(s"$root/dw/fact_sales")
    val n = dw.count()
    val keys = dw.select("fact_key").collect().map(_.getLong(0)).sorted
    val denseBad = if (keys.toSeq == (1L to n)) 0L else 1L
    val joined = dw.withColumnRenamed("store_key", "store_id")
      .withColumnRenamed("product_key", "product_id")
      .withColumnRenamed("dist_key", "dist_id")
      .join(expected, key, "full_outer")
    def off(c: String, tol: Double) =
      col(c).isNull || col(s"e_$c").isNull ||
        abs(col(c).cast("double") - col(s"e_$c")) > tol
    val bad = joined.filter(off("quantity_sold", 0.5) ||
      off("gross_amount", 0.01) || off("discount_amount", 0.01) ||
      off("net_amount", 0.01)).count()
    bad + denseBad + math.abs(expected.count() - n)
  }
}
