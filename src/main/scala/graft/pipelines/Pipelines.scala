package graft.pipelines

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import graft.datagen.DataGen
import graft.datedim.DateDim
import graft.functions.Cleansing
import graft.ops._
import graft.schema.{LogicalCol, SchemaMapper}
import graft.sources.CsvIO
import graft.validate._

/** The reference's four DAGs (SURVEY §3 E1-E3 + §2.8 V10) composed from
  * the engine's operators — a user of Dynamic-ETL maps each Airflow task
  * onto one of these entry points.
  *
  *   E1 sourceLoad   : generate dims + facts → parquet "source DB"
  *   E2 extract      : full fact dump (comma CSV, rotation) + 4-way
  *                     star-join snapshot (pipe CSV into incoming/)
  *   E3 loadIncoming : incoming snapshot CSV → schema-resolve → clean →
  *                     resolve dim keys → classify changes → assign
  *                     surrogate keys → merge into the DW fact
  *   V10 validation  : per-table declarative contracts
  */
object Pipelines {

  // ---- E1: daily source load -------------------------------------------
  final case class SourceDb(products: DataFrame, stores: DataFrame,
      distributors: DataFrame, dates: DataFrame, facts: DataFrame)

  def sourceLoad(spark: SparkSession, root: String, nFacts: Long = 1000,
      dateId: Int = 20240115, seed: Long = 42): SourceDb = {
    val products = DataGen.products(spark, 50, seed)
    val stores = DataGen.stores(spark, 30, seed + 1)
    val dists = DataGen.distributors(spark, 10, seed + 2)
    val dates = DateDim.generate(spark, "2024-01-01", "2024-01-31")
    // guard: fact day must exist in dim_date (J9, fact_sales_daily.py:22-33)
    require(dates.filter(col("date_id") === dateId).limit(1).count() > 0,
      s"date_id $dateId missing from dim_date")
    val facts = DataGen.factSales(spark, nFacts, dateId, products, stores,
      dists, seed + 3)
    Seq("products" -> products, "stores" -> stores,
      "distributors" -> dists, "dates" -> dates, "facts" -> facts)
      .foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$root/source/$n") }
    SourceDb(
      spark.read.parquet(s"$root/source/products"),
      spark.read.parquet(s"$root/source/stores"),
      spark.read.parquet(s"$root/source/distributors"),
      spark.read.parquet(s"$root/source/dates"),
      spark.read.parquet(s"$root/source/facts"))
  }

  // ---- E2: extract + denormalized snapshot ------------------------------
  /** Full-dump comma CSV with Current→Archive rotation, then the wide
    * star-join snapshot as pipe CSV into incoming/ (S2/S3/S6/J1/O1). */
  def extract(spark: SparkSession, db: SourceDb, root: String): DataFrame = {
    CsvIO.rotate(spark, s"$root/extract/Current", s"$root/extract/Archive")
    CsvIO.write(db.facts.orderBy(col("sales_id"))
      .select(db.facts.columns.map(c => col(c).cast("string")): _*),
      s"$root/extract/Current/fact_sales", sep = ",")
    val snapshot = db.facts
      .join(broadcast(db.stores), "store_id")
      .join(broadcast(db.products), "product_id")
      .join(broadcast(db.distributors), "dist_id")
      .join(broadcast(db.dates), "date_id")
      .select(
        col("sales_id"), col("date_id"), col("full_date"),
        col("store_id"), col("store_name"), col("class_of_trade"),
        col("is_chain"), col("city"), col("state"),
        col("product_id"), col("product_name"), col("brand"),
        col("category"), col("sub_category"), col("manufacturer"),
        db.products("unit_price").as("product_unit_price"),
        col("dist_id"), col("dist_name"), col("dist_type"),
        col("active_flag"),
        col("quantity_sold"), db.facts("unit_price").as("sales_unit_price"),
        col("gross_amount"), col("discount_amount"), col("net_amount"))
      .orderBy(col("sales_id"))
    CsvIO.write(snapshot
      .select(snapshot.columns.map(c => col(c).cast("string")): _*),
      s"$root/incoming/sales_snapshot", sep = "|")
    snapshot
  }

  // ---- E3: target DW load ----------------------------------------------

  /** File-level outcomes mirroring the reference's consumption rules
    * (FIXTURES §6): Poison files are marked processed and skipped
    * (empty file, missing required columns — load_fact_sales_dw.py:
    * 92-96, 204-210); Retry leaves the file unconsumed (empty target
    * dims, :156-175; no key matches, :263-277); Loaded carries stats. */
  sealed trait LoadOutcome
  final case class Loaded(facts: DataFrame,
      stats: Map[String, Long]) extends LoadOutcome
  final case class Poison(reason: String) extends LoadOutcome
  final case class Retry(reason: String) extends LoadOutcome

  /** E3, the 9-stage fact loader (load_fact_sales_dw.py), with the
    * reference's file-level outcomes: empty file → Poison; unresolvable
    * schema → Poison; no row left with some dim key missed → Retry,
    * naming the empty dims if any (load_fact_sales_dw.py:156-175), else
    * the misses (:263-277). Otherwise the file read for those checks
    * runs every stage: alias-resolve → clean → resolve the 4 dim keys →
    * drop misses → classify INSERT/UPDATE vs the current DW state →
    * number the classified delta → merge → commit. `dw/fact_sales` stays
    * one plain parquet dir of exactly the live rows; each load replaces
    * it whole through [[BatchLog.replaceDir]]. */
  def loadIncoming(spark: SparkSession, db: SourceDb, root: String,
      incomingPath: String): LoadOutcome = {
    val raw = CsvIO.readAllString(spark, incomingPath, sep = "|")
    if (raw.isEmpty) return Poison("empty file")
    val res = SchemaMapper.resolve(raw, factLogicalCols)
    if (!res.ok)
      return Poison(s"missing required columns: " +
        res.missingRequired.mkString(", "))
    // stage 4: alias-tolerant schema resolution, all-string → cleaned
    val resolved = SchemaMapper(raw, factLogicalCols)
    // stage 5: dim-key resolution through normalized business keys
    val keyed = DimResolver.resolveDimKeys(resolved, Seq(
      DimLookup(db.stores, Seq("STORE_NAME"), Seq("store_name"),
        "store_id", "STORE_KEY"),
      DimLookup(db.products, Seq("PRODUCT_NAME", "BRAND"),
        Seq("product_name", "brand"), "product_id", "PRODUCT_KEY",
        fallback = Some(("PRODUCT_NAME", "product_name", "product_id"))),
      DimLookup(db.distributors, Seq("DIST_NAME"), Seq("dist_name"),
        "dist_id", "DIST_KEY"),
      DimLookup(db.dates.withColumn("fd", col("full_date").cast("string")),
        Seq("FULL_DATE"), Seq("fd"), "date_id", "DATE_ID")))
    // stage 6: drop unresolved / unparseable rows (P5/P6), counting the
    // dim misses with an Observation. An Observation reports from the
    // first action whose plan carries it: here the checkpoint below
    val dimKeys = Seq("STORE_KEY", "PRODUCT_KEY", "DIST_KEY", "DATE_ID")
    val missObs, deltaObs, opsObs = Observation()
    val missAggs = dimKeys.map(k => count(when(col(k).isNull, 1)).as(k))
    val clean = keyed.observe(missObs, missAggs.head, missAggs.tail: _*)
      .na.drop(dimKeys ++ Seq("QUANTITY_SOLD", "NET_AMOUNT"))
      .withColumn("natural_key", Cleansing.naturalKey(col("DATE_ID"),
        col("STORE_KEY"), col("PRODUCT_KEY"), col("DIST_KEY")))
    // the delta at DW schema minus fact_key, checkpointed by its own
    // action: later jobs read it instead of re-running the CSV read +
    // schema map + dim joins + dedup, and no later plan carries the
    // observed nodes
    val incoming = Dedupe.dedupeByKey(clean, Seq("natural_key"),
      Seq(col("SALES_ID")))
      .select(col("natural_key"), col("DATE_ID").as("date_id"),
        col("STORE_KEY").as("store_key"),
        col("PRODUCT_KEY").as("product_key"),
        col("DIST_KEY").as("dist_key"),
        col("QUANTITY_SOLD").as("quantity_sold"),
        col("SALES_UNIT_PRICE").cast("double").as("unit_price"),
        col("GROSS_AMOUNT").cast("double").as("gross_amount"),
        col("DISCOUNT_AMOUNT").cast("double").as("discount_amount"),
        col("NET_AMOUNT").cast("double").as("net_amount"))
      .observe(deltaObs, count(lit(1)).as("incoming"))
      .localCheckpoint(eager = true)
    try {
      // Retry on zero key matches, before any commit: no row is left and
      // some row missed a dim. An empty dim misses every row, so only on
      // this path is each dim checked, by its own job, to name it
      val misses = observed(missObs, "dim misses")
      val missed = dimKeys.map(k => s"miss_$k" -> misses.getAs[Long](k))
      val nIncoming = observed(deltaObs, "incoming").getLong(0)
      val hits = missed.collect { case (k, n) if n > 0 => s"$k=$n" }
      if (nIncoming == 0 && hits.nonEmpty) {
        val empty = Seq("stores" -> db.stores, "products" -> db.products,
          "distributors" -> db.distributors, "dates" -> db.dates)
          .collect { case (n, d) if d.isEmpty => n }
        return Retry(if (empty.nonEmpty) s"empty dims: ${empty.mkString(", ")}"
          else s"no row matched the dims: ${hits.mkString(", ")}")
      }
      // stage 7: classify vs current DW state
      val dwPath = s"$root/dw/fact_sales"
      val existing = loadOrEmpty(spark, dwPath, incoming.schema
        .add("fact_key", LongType))
      val tracked = Seq(TrackedCol("quantity_sold", Some(0.5)),
        TrackedCol("unit_price", Some(0.01)),
        TrackedCol("gross_amount", Some(0.01)),
        TrackedCol("discount_amount", Some(0.01)),
        TrackedCol("net_amount", Some(0.01)))
      // natural_key is concat-built from non-null keys → plain equality;
      // null-safe keys would make Catalyst repartition on coalesce/isnull
      val classified = ChangeClassifier.classifyChanges(incoming,
        existing.drop("fact_key"), Seq("natural_key"), tracked,
        nullSafeKeys = false)
      // stage 8: INSERTs sort first and take maxKey+1.. by natural_key;
      // an UPDATE's number is never written (fact_key is not in SET)
      val staged = SurrogateKeys.assignSequential(classified, "fact_key",
        SurrogateKeys.currentMax(existing, "fact_key"),
        Seq(col("operation") =!= "INSERT", col("natural_key")))
      // stage 9: merge, committed by the directory replace below; the
      // merge sets the target's null `operation` on each row it applies
      val merged = MergeInto.mergeInto(
          existing.withColumn("operation", lit(null).cast(StringType)),
          staged, Seq("natural_key"),
          incoming.columns.filterNot(_ == "natural_key").toSeq :+ "operation",
          "operation", nullSafeKeys = false)
        .observe(opsObs,
          count(when(col("operation") === "INSERT", 1)).as("inserts"),
          count(when(col("operation") === "UPDATE", 1)).as("updates"))
        .drop("operation")
      BatchLog.replaceDir(spark, dwPath)(
        merged.write.mode("overwrite").parquet(_))
      val ops = observed(opsObs, "inserts/updates")
      val stats = Map("incoming" -> nIncoming,
        "inserts" -> ops.getLong(0), "updates" -> ops.getLong(1)) ++ missed
      Loaded(spark.read.schema(merged.schema).parquet(dwPath), stats)
    } finally incoming.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false) }
  }

  /** `obs`'s metrics, which reach the driver through the listener bus
    * after the action: a bounded wait that fails naming `what` when they
    * never arrive, or arrive empty (the action's plan lost the node). */
  private def observed(obs: Observation, what: String): Row =
    scala.util.Try(Await.result(obs.future, 60.seconds)).toOption
      .filter(_.length > 0).getOrElse(throw new IllegalStateException(
        s"load stats: the $what observation never reported"))

  /** Alias-tolerant logical schema of the incoming snapshot (FIXTURES
    * §1): shared by resolution checks and the loader. */
  def factLogicalCols: Seq[LogicalCol] = Seq(
    LogicalCol("SALES_ID", aliases = Seq("ID"),
      targetType = Some(LongType)),
    LogicalCol("FULL_DATE", aliases = Seq("SALE_DATE",
      "TRANSACTION_DATE", "DATE"),
      clean = Some(c => Cleansing.parseDateMulti(c).cast("string")),
      targetType = Some(DateType)),
    LogicalCol("STORE_NAME", aliases = Seq("STORE", "STORENAME")),
    LogicalCol("CITY", required = false),
    LogicalCol("PRODUCT_NAME", aliases = Seq("PRODUCT")),
    LogicalCol("BRAND", aliases = Seq("BRAND_NAME"), required = false),
    LogicalCol("DIST_NAME", aliases = Seq("DISTRIBUTOR",
      "DISTRIBUTOR_NAME")),
    LogicalCol("QUANTITY_SOLD", aliases = Seq("QTY", "QUANTITY"),
      clean = Some(Cleansing.cleanNumeric),
      targetType = Some(LongType)),
    LogicalCol("SALES_UNIT_PRICE", aliases = Seq("UNIT_PRICE", "PRICE"),
      clean = Some(Cleansing.cleanNumeric),
      targetType = Some(DecimalType(12, 2))),
    LogicalCol("GROSS_AMOUNT", aliases = Seq("GROSS_SALES",
      "TOTAL_AMOUNT"), clean = Some(Cleansing.cleanNumeric),
      targetType = Some(DecimalType(12, 2))),
    LogicalCol("DISCOUNT_AMOUNT", aliases = Seq("DISCOUNT"),
      clean = Some(Cleansing.cleanNumeric),
      targetType = Some(DecimalType(12, 2))),
    LogicalCol("NET_AMOUNT", aliases = Seq("NET_SALES", "NET"),
      clean = Some(Cleansing.cleanNumeric),
      targetType = Some(DecimalType(12, 2))))

  /** Snowflake lookup-dim maintenance (target_dw's dim_category /
    * dim_sub_category / dim_manufacturer): distinct incoming values
    * anti-joined against the stored dim, new keys from max+1, append,
    * committed by [[BatchLog.replaceDir]]. Returns value→newRowCount
    * per dim. */
  def maintainSnowflakeDims(spark: SparkSession, root: String,
      snapshot: DataFrame): Map[String, Long] = {
    val dimSchema = StructType(Seq(
      StructField("key", LongType), StructField("value", StringType)))
    Seq("category", "sub_category", "manufacturer").map { c =>
      val path = s"$root/dw/dim_$c"
      val existing = loadOrEmpty(spark, path, dimSchema)
      val (updated, newRows) = graft.ops.LookupDim.upsert(
        existing, snapshot.select(col(c).as("value")), "value", "key")
      val n = newRows.count()
      BatchLog.replaceDir(spark, path)(
        updated.write.mode("overwrite").parquet(_))
      c -> n
    }.toMap
  }

  /** The table at `path` after [[BatchLog.recoverDir]], read with its
    * `schema` (no inference job), or an empty frame when none exists yet. */
  private def loadOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    if (BatchLog.recoverDir(spark, path))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  // ---- V10: validation suite -------------------------------------------
  def validationSuite(db: SourceDb, dwFacts: DataFrame,
      execDateId: Int): DataFrame =
    Validator.suite(Seq(
      ("products", db.products, Seq(MinRows(10),
        NoNulls(Seq("product_id", "product_name", "brand", "category")),
        PkUnique(Seq("product_id")))),
      ("stores", db.stores, Seq(MinRows(10),
        NoNulls(Seq("store_id", "store_name")),
        FlagDomain(Seq("is_chain")), PkUnique(Seq("store_id")))),
      ("distributors", db.distributors, Seq(MinRows(5),
        FlagDomain(Seq("active_flag")), PkUnique(Seq("dist_id")))),
      ("dates", db.dates, Seq(MinRows(28),
        FlagDomain(Seq("is_weekend", "is_business_day")),
        PkUnique(Seq("date_id")))),
      ("fact_sales_dw", dwFacts, Seq(MinRows(1),
        NoNulls(Seq("natural_key", "date_id", "store_key", "product_key",
          "dist_key", "net_amount")),
        PkUnique(Seq("natural_key"))))))
}
