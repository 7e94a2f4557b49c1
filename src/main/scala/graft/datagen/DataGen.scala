package graft.datagen

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Cleansing, RefData}

/** Seeded synthetic generators (SURVEY §2.7 F27/F28, §7.1 item 6) — the
  * Spark re-expression of the reference's daily data-generation scripts
  * (dim_product_daily.py / dim_store_daily.py / dim_distributor_daily.py /
  * fact_sales_daily.py): `spark.range` + hash-derived uniform draws,
  * fully distributed and reproducible (same seed → same rows).
  *
  * Draws are md5-derived, NOT `rand(seed)`: Spark's rand() seeds per
  * PARTITION, so the generated values change with the partition layout —
  * regenerate on a different cluster size (or after an AQE coalesce) and
  * every row differs. Hashing (tag, seed, row key) makes each draw a
  * pure function of the row — identical on 1 core or 1000 executors,
  * and recomputable by any engine with md5 (the gen1 gate recomputes
  * the full ladder in DuckDB).
  */
object DataGen {

  /** Raw 32-bit draw: first 8 md5 hex chars of "tag|seed|key" as a
    * long in [0, 2^32). Portable: DuckDB computes the identical value
    * via ('0x' || substr(md5(...), 1, 8))::UBIGINT. The tag keeps
    * generators with overlapping seed ranges (products seed+1 vs
    * stores seed) from drawing correlated values for equal row keys. */
  def hashBits(tag: String, seed: Long, key: Column): Column =
    graft.operators.Curation.hashDraw(
      concat_ws("|", lit(tag), lit(seed), key.cast("string")))

  /** F28 base: portable uniform in [0,1) at 2^-32 resolution — an
    * exact dyadic rational, so downstream IEEE arithmetic (thresholds,
    * scaling) is bit-identical across engines. */
  def hashUniform(tag: String, seed: Long, key: Column): Column =
    hashBits(tag, seed, key).cast("double") / 4294967296.0

  /** F27: weighted categorical choice as a cumulative-probability
    * when-ladder over a uniform draw. Thresholds come from
    * [[cumThresholds]] — the same values the gate oracle embeds, by
    * construction rather than by parallel arithmetic. */
  def weightedChoice(u: Column, choices: Seq[(String, Double)]): Column = {
    val cum = cumThresholds(choices)
    choices.zip(cum).init.foldLeft(when(lit(false), lit("")): Column) {
      case (acc, ((v, _), c)) => acc.when(u < c, lit(v))
    }.otherwise(lit(choices.last._1))
  }

  /** Cumulative thresholds for [[weightedChoice]], exposed so the gate
    * oracle embeds the SAME double literals the ladder compares with. */
  def cumThresholds(choices: Seq[(String, Double)]): Seq[Double] = {
    val total = choices.map(_._2).sum
    choices.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
  }

  /** F28: uniform draw in [lo, hi). */
  def uniform(u: Column, lo: Double, hi: Double): Column =
    u * (hi - lo) + lo

  // weights mirror dim_product_daily.py:977-994 / dim_store_daily.py:72-78
  val categoryWeights: Seq[(String, Double)] = Seq(
    "Grocery" -> 40, "PersonalCare" -> 20, "BabyCare" -> 12,
    "Beverage" -> 15, "Dairy" -> 10, "HomeCare" -> 3)
  val classOfTradeWeights: Seq[(String, Double)] = Seq(
    "Modern Trade - Hypermarket" -> 15, "Modern Trade - Supermarket" -> 25,
    "General Trade - Kirana" -> 40, "Convenience Store" -> 10,
    "Cash & Carry - Wholesale" -> 10)
  val distributorTypeWeights: Seq[(String, Double)] = Seq(
    "National" -> 15, "Regional" -> 30, "Local" -> 55)
  val subcategoryByCategory: Map[String, Seq[String]] = Map(
    "Grocery" -> Seq("Rice", "Wheat Flour", "Edible Oil", "Pulses",
      "Spices", "Biscuits", "Noodles", "Snacks"),
    "PersonalCare" -> Seq("Shampoo", "Soap", "Toothpaste", "Face Wash",
      "Hair Oil"),
    "BabyCare" -> Seq("Baby Powder", "Baby Wipes", "Diapers", "Baby Soap"),
    "Beverage" -> Seq("Soft Drink", "Juice", "Tea", "Coffee",
      "Energy Drink"),
    "Dairy" -> Seq("Milk", "Curd", "Cheese", "Butter", "Paneer"),
    "HomeCare" -> Seq("Detergent", "Dishwash", "Floor Cleaner",
      "Toilet Cleaner"))

  private def pickFrom(values: Seq[String], idx: Column): Column =
    element_at(typedLit(values), (idx % values.size + 1).cast("int"))

  /** Product dimension: n rows keyed from startKey+1, seeded draws for
    * category/subcategory/brand/price, SKU per F26. */
  def products(spark: SparkSession, n: Long, seed: Long = 42,
      startKey: Long = 0): DataFrame = {
    val base = spark.range(n)
      .withColumn("product_id", col("id") + 1 + startKey)
      .withColumn("u1", hashUniform("prod", seed, col("product_id")))
      .withColumn("u2", hashUniform("prod", seed + 1, col("product_id")))
      .withColumn("u3", hashUniform("prod", seed + 2, col("product_id")))
    val cat = weightedChoice(col("u1"), categoryWeights)
    val withCat = base.withColumn("category", cat)
    val sub = subcategoryByCategory.foldLeft(
      when(lit(false), lit("")): Column) { case (acc, (c, subs)) =>
        acc.when(col("category") === c,
          pickFrom(subs, floor(col("u2") * 1000).cast("long")))
    }.otherwise(lit("General"))
    val brands = RefData.brandManufacturerMap.keys.toSeq.sorted
    withCat
      .withColumn("sub_category", sub)
      .withColumn("brand",
        pickFrom(brands, floor(col("u3") * 10000).cast("long")))
      .withColumn("product_name",
        concat_ws(" ", col("brand"), col("sub_category"),
          col("product_id").cast("string")))
      // price in [10.00, 500.00] at whole-cent resolution, derived from
      // the integer draw (v % 49001 + 1000 cents): exact on every
      // engine, where round(double, 2) rounding internals differ.
      // seed+3 is a FRESH draw — reusing the u2 bits (seed+1) would make
      // price a deterministic function of the subcategory draw, unlike
      // the reference's independent random.uniform price
      .withColumn("unit_price",
        ((hashBits("prod", seed + 3, col("product_id")) % 49001L + 1000L)
          / 100.0).cast(DecimalType(10, 2)))
      .withColumn("sku", Cleansing.skuCode(lit("SKU"), col("brand"),
        col("sub_category"), col("product_id")))
      .withColumn("manufacturer", RefData.manufacturerFor(col("brand")))
      .select("product_id", "product_name", "brand", "category",
        "sub_category", "manufacturer", "sku", "unit_price")
  }

  val cities: Seq[String] = Seq("Mumbai", "Delhi", "Bengaluru", "Chennai",
    "Kolkata", "Hyderabad", "Pune", "Ahmedabad")
  val states: Seq[String] = Seq("Maharashtra", "Delhi", "Karnataka",
    "Tamil Nadu", "West Bengal", "Telangana", "Maharashtra", "Gujarat")

  /** Store dimension with volume weights (used for weighted fact picks). */
  def stores(spark: SparkSession, n: Long, seed: Long = 43,
      startKey: Long = 0): DataFrame = {
    spark.range(n)
      .withColumn("store_id", col("id") + 1 + startKey)
      .withColumn("u1", hashUniform("store", seed, col("store_id")))
      .withColumn("u2", hashUniform("store", seed + 1, col("store_id")))
      .withColumn("class_of_trade",
        weightedChoice(col("u1"), classOfTradeWeights))
      .withColumn("is_chain", when(col("u2") < 0.3, "Y").otherwise("N"))
      .withColumn("cidx", (col("store_id") % cities.size).cast("int"))
      .withColumn("store_name",
        concat(lit("Store "), col("store_id").cast("string")))
      .withColumn("city", element_at(typedLit(cities), col("cidx") + 1))
      .withColumn("state", element_at(typedLit(states), col("cidx") + 1))
      .withColumn("volume_weight",
        when(col("class_of_trade").contains("Hypermarket"), 5.0)
          .when(col("class_of_trade").contains("Wholesale"), 4.0)
          .when(col("class_of_trade").contains("Supermarket"), 3.0)
          .otherwise(1.0))
      .select("store_id", "store_name", "class_of_trade", "is_chain",
        "city", "state", "volume_weight")
  }

  def distributors(spark: SparkSession, n: Long, seed: Long = 44,
      startKey: Long = 0): DataFrame =
    spark.range(n)
      .withColumn("dist_id", col("id") + 1 + startKey)
      .withColumn("u1", hashUniform("dist", seed, col("dist_id")))
      .withColumn("dist_name",
        concat(lit("Distributor "), col("dist_id").cast("string")))
      .withColumn("dist_type",
        weightedChoice(col("u1"), distributorTypeWeights))
      .withColumn("active_flag",
        when(hashUniform("dist", seed + 1, col("dist_id")) < 0.9, "Y")
          .otherwise("N"))
      .select("dist_id", "dist_name", "dist_type", "active_flag")

  /** Fact generator (fact_sales_daily.py:135-200): weighted store pick,
    * category-affinity product pick (P7), random active distributor,
    * qty with wholesale multiplier and the F28 weekend (sat/sun
    * 1.2-1.4) and seasonal (Oct-Dec 1.3-1.6, Apr-May 1.1-1.3) boosts —
    * both derived from `dateId`, each its own draw — plus tiered
    * discount + decimal money math (F21/F22).
    *
    * Each dim is collected once, in pick order, and numbered on the
    * driver (the reference picks from in-memory lists); the picks are
    * broadcast joins of those rows, so the fact side never shuffles.
    */
  def factSales(spark: SparkSession, n: Long, dateId: Int,
      productsDf: DataFrame, storesDf: DataFrame,
      distributorsDf: DataFrame,
      seed: Long = 45, startKey: Long = 0): DataFrame = {
    // `df`'s rows in `ord` order: one task sorts the whole dim
    def collectSorted(df: DataFrame, ord: Column*): Seq[Row] =
      df.coalesce(1).sortWithinPartitions(ord: _*).collect().toSeq
    // `rows` (each followed by `extra`'s values) as a local frame: its
    // broadcast runs no job
    def local(schema: StructType, rows: Seq[Seq[Any]],
        extra: (String, DataType)*): DataFrame =
      spark.createDataFrame(rows.map(Row.fromSeq).asJava,
        extra.foldLeft(schema) { case (s, (c, t)) => s.add(c, t) })
    def numbered(rows: Seq[Row]): Seq[Seq[Any]] =
      rows.zipWithIndex.map { case (r, i) => r.toSeq :+ i.toLong }
    val base = spark.range(n)
      .withColumn("sales_id", col("id") + 1 + startKey)
      .withColumn("u_store", hashUniform("fact", seed, col("sales_id")))
      .withColumn("u_prod", hashUniform("fact", seed + 1, col("sales_id")))
      .withColumn("u_dist", hashUniform("fact", seed + 2, col("sales_id")))
      .withColumn("u_qty", hashUniform("fact", seed + 3, col("sales_id")))
      .withColumn("u_boost", hashUniform("fact", seed + 4, col("sales_id")))
    // weighted store pick: square the uniform (u*u, not pow — exact
    // single IEEE multiply on every engine) to skew toward the
    // high-weight (low index after desc sort) stores
    val stores = collectSorted(storesDf, col("volume_weight").desc,
      col("store_id"))
    val withStore = base
      .withColumn("sidx",
        floor(col("u_store") * col("u_store") * stores.size.toLong).cast("int"))
      .join(broadcast(local(storesDf.schema, numbered(stores),
        "sidx" -> LongType)), "sidx")
    // category-affinity product pick (P7): Kirana/Convenience draw from
    // their allowed-category product pools, everyone else from the full
    // catalog. Drawing WITHIN the pool (indexed per group) honors the
    // requested row count exactly — a rejection filter would silently
    // drop ~15-20% of rows and leave sales_id gaps.
    val affinityGroups: Seq[(String, Seq[String])] = Seq(
      "kirana" -> Seq("Grocery", "Beverage", "Dairy"),
      "convenience" -> Seq("Beverage", "Dairy", "Grocery"),
      "all" -> Nil)
    val products = collectSorted(productsDf, col("product_id"))
    val pools = affinityGroups.map { case (g, cats) =>
      g -> products.filter(r =>
        cats.isEmpty || cats.contains(r.getAs[String]("category")))
    }
    val poolUnion = local(productsDf.schema, pools.flatMap {
      case (g, pool) => numbered(pool).map(_ :+ g) },
      "pidx" -> LongType, "pgroup" -> StringType)
    val groupCol = when(col("class_of_trade").contains("Kirana"),
      "kirana")
      .when(col("class_of_trade").contains("Convenience"), "convenience")
      .otherwise("all")
    val sizeCol = pools.foldLeft(lit(0L)) { case (acc, (g, pool)) =>
      when(col("pgroup_pick") === g, lit(pool.size.toLong)).otherwise(acc)
    }
    val withProd = withStore
      .withColumn("pgroup_pick", groupCol)
      .withColumn("pidx", floor(col("u_prod") * sizeCol).cast("int"))
      .withColumnRenamed("pgroup_pick", "pgroup")
      .join(broadcast(poolUnion), Seq("pgroup", "pidx"))
    val dists = collectSorted(
      distributorsDf.filter(col("active_flag") === "Y"), col("dist_id"))
    val joined = withProd
      .withColumn("didx", floor(col("u_dist") * dists.size.toLong).cast("int"))
      .join(broadcast(local(distributorsDf.schema, numbered(dists),
        "didx" -> LongType)), "didx")
    val isWholesale = col("class_of_trade").contains("Wholesale")
    // F28 boosts (fact_sales_daily.py:86-97): weekend 1.2-1.4, seasonal
    // Oct-Dec 1.3-1.6 / Apr-May 1.1-1.3, each its own draw; off-season /
    // weekday ranges collapse to exactly 1.0 (u*0+1), so the no-boost
    // path is bit-identical to an unboosted quantity.
    val date = java.time.LocalDate.parse(dateId.toString,
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    val weekend = date.getDayOfWeek == java.time.DayOfWeek.SATURDAY ||
      date.getDayOfWeek == java.time.DayOfWeek.SUNDAY
    val (wLo, wHi) = if (weekend) (1.2, 1.4) else (1.0, 1.0)
    val (sLo, sHi) = date.getMonthValue match {
      case 10 | 11 | 12 => (1.3, 1.6)
      case 4 | 5 => (1.1, 1.3)
      case _ => (1.0, 1.0)
    }
    // fold degenerate ranges to lit(1.0) driver-side: Catalyst cannot
    // fold u*0.0+1.0 (u may be null/NaN), so without this every
    // off-season weekday row would pay two md5 draws for a provable
    // constant; an unreferenced u_boost column is then pruned entirely
    def boostTerm(u: => Column, lo: Double, hi: Double): Column =
      if (lo == hi) lit(lo) else uniform(u, lo, hi)
    val boost = boostTerm(col("u_boost"), wLo, wHi) *
      boostTerm(hashUniform("fact", seed + 5, col("sales_id")), sLo, sHi)
    val rawQty = when(isWholesale, uniform(col("u_qty"), 5.0, 20.0) * 10)
      .otherwise(uniform(col("u_qty"), 1.0, 10.0))
    val qty = greatest(floor(rawQty * boost).cast("long"), lit(1L))
    val gross = Cleansing.grossAmount(qty, col("unit_price"))
    val pct = Cleansing.tieredDiscount(gross, col("class_of_trade"),
      col("is_chain"))
    val disc = Cleansing.discountAmount(gross, pct)
    joined
      .withColumn("date_id", lit(dateId))
      .withColumn("quantity_sold", qty)
      .withColumn("gross_amount", gross)
      .withColumn("discount_amount", disc)
      .withColumn("net_amount", Cleansing.netAmount(gross, disc))
      .select("sales_id", "date_id", "store_id", "product_id", "dist_id",
        "quantity_sold", "unit_price", "gross_amount", "discount_amount",
        "net_amount")
  }
}
