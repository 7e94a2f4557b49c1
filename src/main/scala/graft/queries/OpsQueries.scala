package graft.queries

import graft.Tables
import graft.ops._
import graft.schema.{LogicalCol, SchemaMapper}
import graft.functions.Cleansing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, DecimalType, DateType}

/** Oracle-checked coverage for the DW-load operators (SURVEY §2.3 J6-J8,
  * §2.5 W1, §2.4 A8, §1.3 schema mapping) — each query drives the REAL ops
  * API (ChangeClassifier / MergeInto / SurrogateKeys / Dedupe / LookupDim /
  * SchemaMapper / DimResolver), with the DuckDB oracle re-deriving the
  * expected outcome in plain SQL.
  */
object OpsQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Perturbed "incoming" feed derived from part: price bump for %7,
    * renamed for %11, brand-new keys (+1,000,000) for %13. */
  private def incomingParts(p: DataFrame): DataFrame = {
    val modified = p.select(
      col("p_partkey").as("bk"),
      when(col("p_partkey") % 11 === 0, concat(col("p_name"), lit("_x")))
        .otherwise(col("p_name")).as("name"),
      when(col("p_partkey") % 7 === 0, col("p_retailprice") + 1.0)
        .otherwise(col("p_retailprice")).as("price"))
    val fresh = p.filter(col("p_partkey") % 13 === 0).select(
      (col("p_partkey") + 1000000L).as("bk"),
      col("p_name").as("name"), col("p_retailprice").as("price"))
    modified.unionByName(fresh)
  }

  private def existingParts(p: DataFrame): DataFrame =
    p.select(col("p_partkey").as("bk"), col("p_name").as("name"),
      col("p_retailprice").as("price"))

  def queries: Map[String, Q] = Map(
    // ---- J6/J7: change classification through ChangeClassifier ----------
    "j7_classify_changes" -> ((s, d) => {
      val p = Tables.part(s, d)
      ChangeClassifier.classifyChanges(
        incomingParts(p), existingParts(p), Seq("bk"),
        Seq(TrackedCol("name"), TrackedCol("price", Some(0.01))))
        .select(col("bk"), col("operation"))
        .orderBy(col("bk"))
    }),

    // ---- J8: merge upsert through MergeInto -----------------------------
    "j8_merge_upsert" -> ((s, d) => {
      val p = Tables.part(s, d)
      val staged = ChangeClassifier.classifyChanges(
        incomingParts(p), existingParts(p), Seq("bk"),
        Seq(TrackedCol("name"), TrackedCol("price", Some(0.01))))
      MergeInto.mergeInto(existingParts(p), staged, Seq("bk"),
        Seq("name", "price"), "operation")
        .orderBy(col("bk"))
    }),

    // ---- §1.3: dynamic schema mapping (aliases, inject, coerce) ---------
    "s4_schema_mapper" -> ((s, d) => {
      val o = Tables.orders(s, d)
      // simulate an all-string file with alias headers and messy values
      val file = o.select(
        col("o_orderkey").cast("string").as("  Order_Ref "),
        concat(lit("₹"), col("o_totalprice").cast("decimal(12,2)")
          .cast("string")).as("TOTAL AMT"),
        date_format(col("o_orderdate").cast("date"), "dd/MM/yyyy")
          .as("TXN_DATE"))
      SchemaMapper(file, Seq(
        LogicalCol("ORDER_ID", aliases = Seq("ORDER_REF", "ID"),
          targetType = Some(LongType)),
        LogicalCol("TOTAL_PRICE", aliases = Seq("TOTAL AMT", "AMOUNT"),
          clean = Some(Cleansing.cleanNumeric),
          targetType = Some(DecimalType(12, 2))),
        LogicalCol("FULL_DATE", aliases = Seq("TXN_DATE", "SALE_DATE"),
          clean = Some(c => Cleansing.parseDateMulti(c).cast("string")),
          targetType = Some(DateType)),
        LogicalCol("CHANNEL", required = false)))
        // DECIMAL lands on DOUBLE for driver-hash canonicalization only.
        .withColumn("TOTAL_PRICE", col("TOTAL_PRICE").cast("double"))
        .orderBy(col("ORDER_ID"))
    }),

    // ---- J2-J5 via DimResolver API with miss handling -------------------
    "j2b_resolve_dim_keys" -> ((s, d) => {
      val su = Tables.supplier(s, d)
      val n  = Tables.nation(s, d)
      val facts = su
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"),
          when(col("s_suppkey") % 9 === 0, concat(col("n_name"), lit("_ZZ")))
            .otherwise(lower(concat(lit(" "), col("n_name"), lit("  "))))
            .as("nation_raw"))
      DimResolver.resolveDimKeys(facts, Seq(DimLookup(
        n, Seq("nation_raw"), Seq("n_name"), "n_nationkey", "nation_key")))
        .select(col("s_suppkey"), col("nation_key"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- W1 scale path: contiguous keys without a global sort -----------
    // Key↔row pairing is intentionally order-free; the KEY SET is exact:
    // maxKey+1 .. maxKey+N, gap-free. Oracle checks exactly that.
    "w1b_contiguous_keys" -> ((s, d) => {
      val su = Tables.supplier(s, d).repartition(8)
      SurrogateKeys.assignContiguous(su, "new_key", 1000000L)
        .select(col("new_key")).orderBy(col("new_key"))
    }),

    // ---- A8 via Dedupe API: keep-last ----------------------------------
    "a8b_dedupe_keep_last" -> ((s, d) => {
      Dedupe.dedupeByKey(Tables.lineitem(s, d), Seq("l_orderkey"),
        Seq(col("l_linenumber").desc, col("l_partkey").desc,
          col("l_suppkey").desc, col("l_extendedprice").desc))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .orderBy(col("l_orderkey"))
    }),

    // ---- Fuzzy key matching: blocked levenshtein on the key domain ------
    // The scale pattern for key canonicalization: DISTINCT the key domain
    // first (64 names here; orders of magnitude below fact cardinality),
    // block by a cheap predicate (length band), verify with edit
    // distance. Never runs all-pairs on the fact table.
    "d6_fuzzy_pairs" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"))
      val b = names.select(col("p_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b")
          && abs(length(col("name_a")) - length(col("name_b"))) <= 3
          && levenshtein(col("name_a"), col("name_b")) <= 3)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // ---- O-series breadth: INTERSECT / EXCEPT ---------------------------
    "o5_intersect" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val custN = Tables.customer(s, d)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"))
      val suppN = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"))
      custN.intersect(suppN).orderBy(col("n_name"))
    }),

    "o6_except" -> ((s, d) => {
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      su.select(col("s_nationkey"))
        .except(su.filter(col("s_acctbal") < 0).select(col("s_nationkey")))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name")).orderBy(col("n_name"))
    }),

    // ---- Skew-mitigation joins (oracle: the PLAIN join — the whole ------
    // point is that the rewrite is result-identical) -----------------------
    "sk1_salted_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      SkewJoin.saltedJoin(Tables.lineitem(s, d), o, "l_orderkey",
          scatterCol = "l_partkey", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          Tables.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),
    "sk2_skew_split_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      // >5 lines/order marks ~the top fifth of orders hot — small enough
      // to broadcast, big enough that both slices are exercised
      SkewJoin.skewAwareJoin(Tables.lineitem(s, d), o, "l_orderkey",
          hotThreshold = 5L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          Tables.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- Bloom-pruned join (selective dim; oracle: plain filtered join) --
    "sk3_bloom_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
      SkewJoin.bloomPrunedJoin(Tables.lineitem(s, d), urgent,
          "l_orderkey", expectedDimKeys = 100000L)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_lines"),
          Tables.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("month"))
    }),

    // ---- Bucketed range join (oracle: the plain theta join) -------------
    // Overlapping price bands so multi-match multiplicity is exercised;
    // the oracle spells the O(n·m) predicate DuckDB can afford at gate
    // scale — the operator's bucket rewrite must be result-identical.
    "rj1_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = (0 until 12).map { i =>
        (i.toLong, i * 15000.0, i * 15000.0 + 40000.0)
      }.toDF("band_id", "lo", "hi")
      val points = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.RangeJoin.rangeJoin(points, bands,
          "o_totalprice", "lo", "hi", bucketWidth = 20000.0)
        .select(col("band_id"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("band_id"), col("o_orderkey"))
    }),

    // ---- Interval-overlap join (oracle: the plain theta overlap) --------
    // Order activity windows [day, day + 1 + key%7) against campaign
    // windows that deliberately overlap EACH OTHER (width 250, spacing
    // 200), so multi-campaign matches exercise the multiplicity-one
    // bucket assignment.
    "oj1_overlap_join" -> ((s, d) => {
      import s.implicits._
      val a = Tables.orders(s, d).select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("double").as("alo"))
        .withColumn("ahi",
          col("alo") + (col("o_orderkey") % 7 + 1).cast("double"))
      val b = (0 until 12).map { i =>
        (i.toLong, 9100.0 + i * 200.0, 9100.0 + i * 200.0 + 250.0)
      }.toDF("camp_id", "blo", "bhi")
      graft.operators.RangeJoin.overlapJoin(a, b, "alo", "ahi",
          "blo", "bhi", bucketWidth = 100.0)
        .select(col("camp_id"), col("o_orderkey"))
        .orderBy(col("camp_id"), col("o_orderkey"))
    }),

    // ---- Mergeable-distinct sketches (v8b's self-verifying form) --------
    // Daily HLL sketches of the customer key union up to months; the
    // gate outputs the EXACT per-month distinct (hash-checked against
    // DuckDB) plus a boolean pinning the sketch estimate within ±5%+1 —
    // an estimator drifting out of bound flips the boolean and breaks
    // the hash. The union-≡-whole exactness is IncrementalAggSpec's.
    "hll1_sketch_distinct" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd")
          .as("day"),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM")
          .as("month"),
        col("o_custkey"))
      val daily = IncrementalAgg.sketchSummarize(o, Seq("day", "month"),
        "o_custkey")
      val monthly = IncrementalAgg.sketchEstimate(
        IncrementalAgg.sketchRollup(daily, Seq("month"),
          "o_custkey_sketch"),
        "o_custkey_sketch", "est")
      val exact = o.groupBy(col("month"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      monthly.join(exact, "month")
        .select(col("month"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") <=
            col("n_exact") * 0.05 + 1.0).as("in_bound"))
        .orderBy(col("month"))
    }),

    // ---- Mergeable quantile sketches (kq1) ------------------------------
    // Daily log-histogram sketches of lineitem price cents roll up to
    // months; the gate emits the exact disc quantile (row_number rank
    // pick, hash-checked) NEXT TO the sketch estimate (hash-checked —
    // the oracle replays the same integer bucket math, proving the
    // sketch is engine-portable), plus the one-sided error-bound
    // boolean exact ≤ est ≤ exact + exact>>7. Rollup-≡-one-pass is
    // QuantileSketchSpec's.
    "kq1_log_hist_quantiles" -> ((s, d) => {
      val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
      val li = Tables.lineitem(s, d).select(
        date_format(col("l_shipdate").cast(DateType), "yyyy-MM-dd")
          .as("day"),
        date_format(col("l_shipdate").cast(DateType), "yyyy-MM")
          .as("month"),
        (Tables.dec2(col("l_extendedprice")) * 100).cast(LongType)
          .as("cents"))
      val daily = QuantileSketch.summarize(li, Seq("day", "month"),
        "cents")
      val est = QuantileSketch.quantiles(
        QuantileSketch.rollup(daily, Seq("month")), Seq("month"), qs)
      val byMonth = Window.partitionBy(col("month"))
      val ranked = li
        .withColumn("rn", row_number().over(byMonth.orderBy(col("cents"))))
        .withColumn("n", count(lit(1)).over(byMonth))
      val exact = ranked.groupBy(col("month")).agg(
        first(col("n")).as("n"),
        qs.map { case (name, num, den) =>
          min(when(col("rn") === QuantileSketch.ceilRank(col("n"), num, den),
            col("cents"))).as(s"${name}_exact")
        }: _*)
      exact.join(est, "month")
        .select(col("month") +: col("n") +: qs.flatMap { case (p, _, _) =>
          Seq(col(s"${p}_exact"), col(p).as(s"${p}_est"),
            (col(p) >= col(s"${p}_exact") &&
              col(p) - col(s"${p}_exact") <=
                shiftright(col(s"${p}_exact"), 7)).as(s"${p}_in"))
        }: _*)
        .orderBy(col("month"))
    }),

    // ---- Winsorization on sketch bounds (kq2) ---------------------------
    // Per-month price cents clipped into the sketch's [p5, p95] band;
    // the gate aggregates the clipped column (exact integer sum/min/
    // max) so any cap or clip deviation breaks the hash. The oracle
    // replays the bucket math for both caps and the clip itself.
    "kq2_winsorize" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        date_format(col("l_shipdate").cast(DateType), "yyyy-MM")
          .as("month"),
        (Tables.dec2(col("l_extendedprice")) * 100).cast(LongType)
          .as("cents"))
      QuantileSketch.winsorize(li, Seq("month"), "cents",
          lo = (1, 20), hi = (19, 20))
        .groupBy(col("month")).agg(
          count(lit(1)).as("n"),
          min(col("clip_lo")).as("clip_lo"),
          min(col("clip_hi")).as("clip_hi"),
          sum(col("cents")).as("sum_clipped"),
          min(col("cents")).as("min_clipped"),
          max(col("cents")).as("max_clipped"))
        .orderBy(col("month"))
    }),

    // ---- Incremental quantile maintenance (kq3) --------------------------
    // The streamed-state contract for quantiles: two disjoint halves
    // (orderkey parity) summarize independently and FOLD by the
    // sketch's pure (month, bkt) SUM — the exact per-batch step
    // StreamingSummary.maintainQuantilesFromFiles runs — and the folded
    // state's quantiles must equal the one-shot sketch's. The oracle
    // IS the one-shot replay (kq1's integer bucket math), so any fold
    // asymmetry, double count, or resolution mix-up breaks the hash;
    // file-streamed maintenance ≡ this fold is QuantileSketchSpec's.
    "kq3_streamed_sketch" -> ((s, d) => {
      val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
      val li = Tables.lineitem(s, d).select(
        date_format(col("l_shipdate").cast(DateType), "yyyy-MM")
          .as("month"),
        (Tables.dec2(col("l_extendedprice")) * 100).cast(LongType)
          .as("cents"),
        (col("l_orderkey") % 2).as("h"))
      val a = QuantileSketch.summarize(
        li.filter(col("h") === 0), Seq("month"), "cents")
      val b = QuantileSketch.summarize(
        li.filter(col("h") === 1), Seq("month"), "cents")
      val folded = QuantileSketch.rollup(a.unionByName(b), Seq("month"))
      QuantileSketch.quantiles(folded, Seq("month"), qs)
        .orderBy(col("month"))
    }),

    // ---- Time-series gap fill (ts1) --------------------------------------
    // Daily order summary per priority regularized onto each priority's
    // own date spine: additive measures (n, revenue) zero-fill, the
    // level measure (max order price) carries forward, is_gap marks
    // synthesized days. Oracle replays the spine with generate_series
    // and the carry with last_value(... IGNORE NULLS).
    "ts1_gap_fill_locf" -> ((s, d) => {
      val daily = Tables.orders(s, d).select(
          col("o_orderpriority").as("priority"),
          col("o_orderdate").cast(DateType).as("day"),
          Tables.dec2(col("o_totalprice")).as("price"))
        .groupBy(col("priority"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          max(col("price")).cast("double").as("max_price"))
      TimeSeries.gapFill(daily, Seq("priority"), "day",
          zeroCols = Seq("n", "revenue"), locfCols = Seq("max_price"))
        .select(col("priority"), col("day"), col("n"), col("revenue"),
          col("max_price").as("last_max_price"), col("is_gap"))
        .orderBy(col("priority"), col("day"))
    }),

    // ---- Day-over-day deltas on the regularized series (ts2) ------------
    // The composition gap fill exists for: lag() deltas are only
    // correct on a contiguous series (on the raw summary a gap makes
    // "yesterday" silently mean "last week"). Zero-filled revenue →
    // lag delta per priority; first day's delta is null.
    "ts2_day_over_day" -> ((s, d) => {
      val daily = Tables.orders(s, d).select(
          col("o_orderpriority").as("priority"),
          col("o_orderdate").cast(DateType).as("day"),
          Tables.dec2(col("o_totalprice")).as("price"))
        .groupBy(col("priority"), col("day"))
        .agg(sum(col("price")).cast("double").as("revenue"))
      val filled = TimeSeries.gapFill(daily, Seq("priority"), "day",
        zeroCols = Seq("revenue"), locfCols = Nil)
      val byP = Window.partitionBy(col("priority")).orderBy(col("day"))
      filled
        .withColumn("delta_revenue",
          col("revenue") - lag(col("revenue"), 1).over(byP))
        .select(col("priority"), col("day"), col("revenue"),
          col("delta_revenue"), col("is_gap"))
        .orderBy(col("priority"), col("day"))
    }),

    // ---- Lookup-dim upsert (snowflake maintenance) ----------------------
    "lookup_dim_upsert" -> ((s, d) => {
      val p = Tables.part(s, d)
      val types = p.select(col("p_type").as("value")).distinct()
      // fixture keys via the range-partitioned rank (no global window)
      val existing = SurrogateKeys.assignSequential(types, "key", 0L,
          Seq(col("value")))
        .filter(col("key") <= 10).select(col("key"), col("value"))
      val (updated, _) = LookupDim.upsert(existing,
        p.select(col("p_type").as("value")), "value", "key")
      updated.orderBy(col("key"))
    }),
  )

  /** Both skew rewrites must hash-match the one plain join. */
  private val plainJoinAggSql =
    """SELECT o_orderpriority,
      |  count(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def oracles: Map[String, String] = Map(
    "rj1_range_join" ->
      """WITH bands AS (
        |  SELECT CAST(i AS BIGINT) AS band_id,
        |    CAST(i * 15000 AS DOUBLE) AS lo,
        |    CAST(i * 15000 + 40000 AS DOUBLE) AS hi
        |  FROM generate_series(0, 11) t(i))
        |SELECT band_id, o_orderkey, o_totalprice
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |ORDER BY band_id, o_orderkey""".stripMargin,

    "oj1_overlap_join" ->
      """WITH a AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS DOUBLE) AS alo,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      + (o_orderkey % 7) + 1 AS DOUBLE) AS ahi
        |  FROM orders),
        |b AS (
        |  SELECT CAST(i AS BIGINT) AS camp_id,
        |    CAST(9100 + i * 200 AS DOUBLE) AS blo,
        |    CAST(9100 + i * 200 + 250 AS DOUBLE) AS bhi
        |  FROM generate_series(0, 11) t(i))
        |SELECT camp_id, o_orderkey
        |FROM a JOIN b ON greatest(alo, blo) < least(ahi, bhi)
        |ORDER BY camp_id, o_orderkey""".stripMargin,

    "hll1_sketch_distinct" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  COUNT(DISTINCT o_custkey) AS n_exact,
        |  true AS in_bound
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    // replays the HdrHistogram bucket math (m=7) with the same integer
    // ops the Spark expression uses: e = length(bin(v))-1 (never libm
    // log2), bucket = (e-7+1)*128 + (v >> (e-7)) - 128, edge =
    // ((128 + (bkt&127) + 1) << ((bkt>>7)-1)) - 1; rank targets are
    // ceil-divisions in pure integer math (num*n + den-1) // den
    "kq1_log_hist_quantiles" ->
      """WITH base AS (
        |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
        |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem),
        |bk AS (
        |  SELECT month,
        |    CASE WHEN cents < 128 THEN cents
        |         ELSE (length(bin(cents)) - 7) * 128
        |              + (cents >> (length(bin(cents)) - 8)) - 128
        |    END AS bkt, count(*) AS cnt
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT month, bkt, cnt,
        |    SUM(cnt) OVER (PARTITION BY month ORDER BY bkt) AS cum,
        |    SUM(cnt) OVER (PARTITION BY month) AS total,
        |    CASE WHEN bkt < 128 THEN bkt
        |         ELSE ((128 + (bkt & 127) + 1)
        |               << CAST((bkt >> 7) - 1 AS INT)) - 1
        |    END AS hi
        |  FROM bk),
        |est AS (
        |  SELECT month,
        |    MIN(CASE WHEN cum >= (total + 1) // 2 THEN hi END) AS p50_est,
        |    MIN(CASE WHEN cum >= (total * 9 + 9) // 10 THEN hi END)
        |      AS p90_est,
        |    MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN hi END)
        |      AS p99_est
        |  FROM cum GROUP BY 1),
        |ranked AS (
        |  SELECT month, cents,
        |    row_number() OVER (PARTITION BY month ORDER BY cents) AS rn,
        |    COUNT(*) OVER (PARTITION BY month) AS n
        |  FROM base),
        |exact AS (
        |  SELECT month, MAX(n) AS n,
        |    MIN(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_exact,
        |    MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END)
        |      AS p90_exact,
        |    MIN(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
        |      AS p99_exact
        |  FROM ranked GROUP BY 1)
        |SELECT x.month, CAST(x.n AS BIGINT) AS n,
        |  CAST(p50_exact AS BIGINT) AS p50_exact,
        |  CAST(p50_est AS BIGINT) AS p50_est,
        |  p50_est >= p50_exact
        |    AND p50_est - p50_exact <= p50_exact // 128 AS p50_in,
        |  CAST(p90_exact AS BIGINT) AS p90_exact,
        |  CAST(p90_est AS BIGINT) AS p90_est,
        |  p90_est >= p90_exact
        |    AND p90_est - p90_exact <= p90_exact // 128 AS p90_in,
        |  CAST(p99_exact AS BIGINT) AS p99_exact,
        |  CAST(p99_est AS BIGINT) AS p99_est,
        |  p99_est >= p99_exact
        |    AND p99_est - p99_exact <= p99_exact // 128 AS p99_in
        |FROM exact x JOIN est e ON x.month = e.month
        |ORDER BY x.month""".stripMargin,

    // same bucket replay as kq1; ceil-ranks (n+19)//20 for p5 and
    // (19n+19)//20 for p95; the clipped sum is CAST to BIGINT
    // (DuckDB SUM(BIGINT) returns HUGEINT)
    "kq2_winsorize" ->
      """WITH base AS (
        |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
        |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem),
        |bk AS (
        |  SELECT month,
        |    CASE WHEN cents < 128 THEN cents
        |         ELSE (length(bin(cents)) - 7) * 128
        |              + (cents >> (length(bin(cents)) - 8)) - 128
        |    END AS bkt, count(*) AS cnt
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT month, cnt,
        |    SUM(cnt) OVER (PARTITION BY month ORDER BY bkt) AS cum,
        |    SUM(cnt) OVER (PARTITION BY month) AS total,
        |    CASE WHEN bkt < 128 THEN bkt
        |         ELSE ((128 + (bkt & 127) + 1)
        |               << CAST((bkt >> 7) - 1 AS INT)) - 1
        |    END AS hi
        |  FROM bk),
        |est AS (
        |  SELECT month,
        |    MIN(CASE WHEN cum >= (total + 19) // 20 THEN hi END)
        |      AS clip_lo,
        |    MIN(CASE WHEN cum >= (total * 19 + 19) // 20 THEN hi END)
        |      AS clip_hi
        |  FROM cum GROUP BY 1),
        |clipped AS (
        |  SELECT b.month, e.clip_lo, e.clip_hi,
        |    least(greatest(b.cents, e.clip_lo), e.clip_hi) AS c
        |  FROM base b JOIN est e USING (month))
        |SELECT month, COUNT(*) AS n,
        |  MIN(clip_lo) AS clip_lo, MIN(clip_hi) AS clip_hi,
        |  CAST(SUM(c) AS BIGINT) AS sum_clipped,
        |  MIN(c) AS min_clipped, MAX(c) AS max_clipped
        |FROM clipped GROUP BY month ORDER BY month""".stripMargin,

    // kq3: the ONE-SHOT sketch replay (same bucket math as kq1) — the
    // engine side folded two disjoint halves, so any fold defect
    // diverges from this
    "kq3_streamed_sketch" ->
      """WITH base AS (
        |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
        |    CAST(CAST(l_extendedprice AS DECIMAL(15,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem),
        |bk AS (
        |  SELECT month,
        |    CASE WHEN cents < 128 THEN cents
        |         ELSE (length(bin(cents)) - 7) * 128
        |              + (cents >> (length(bin(cents)) - 8)) - 128
        |    END AS bkt, count(*) AS cnt
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT month, cnt,
        |    SUM(cnt) OVER (PARTITION BY month ORDER BY bkt) AS cum,
        |    SUM(cnt) OVER (PARTITION BY month) AS total,
        |    CASE WHEN bkt < 128 THEN bkt
        |         ELSE ((128 + (bkt & 127) + 1)
        |               << CAST((bkt >> 7) - 1 AS INT)) - 1
        |    END AS hi
        |  FROM bk)
        |SELECT month,
        |  CAST(MIN(CASE WHEN cum >= (total + 1) // 2 THEN hi END)
        |    AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum >= (total * 9 + 9) // 10 THEN hi END)
        |    AS BIGINT) AS p90,
        |  CAST(MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN hi END)
        |    AS BIGINT) AS p99
        |FROM cum GROUP BY 1 ORDER BY month""".stripMargin,

    // decimal sums cast to double at scale 2 are single-rounded in both
    // engines (the a2 pattern); the LOCF mirror is last_value IGNORE
    // NULLS over the default running frame
    "ts1_gap_fill_locf" ->
      """WITH facts AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE)
        |      AS day,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
        |      AS revenue,
        |    CAST(MAX(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
        |      AS max_price
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (
        |  SELECT priority, MIN(day) AS lo, MAX(day) AS hi
        |  FROM facts GROUP BY 1),
        |spine AS (
        |  SELECT priority,
        |    unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM bounds)
        |SELECT s.priority, s.day,
        |  CAST(COALESCE(f.n, 0) AS BIGINT) AS n,
        |  COALESCE(f.revenue, 0.0) AS revenue,
        |  last_value(f.max_price IGNORE NULLS)
        |    OVER (PARTITION BY s.priority ORDER BY s.day)
        |    AS last_max_price,
        |  f.n IS NULL AS is_gap
        |FROM spine s LEFT JOIN facts f USING (priority, day)
        |ORDER BY s.priority, s.day""".stripMargin,

    "ts2_day_over_day" ->
      """WITH facts AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE)
        |      AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
        |      AS revenue
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (
        |  SELECT priority, MIN(day) AS lo, MAX(day) AS hi
        |  FROM facts GROUP BY 1),
        |spine AS (
        |  SELECT priority,
        |    unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM bounds),
        |filled AS (
        |  SELECT s.priority, s.day,
        |    COALESCE(f.revenue, 0.0) AS revenue,
        |    f.revenue IS NULL AS is_gap
        |  FROM spine s LEFT JOIN facts f USING (priority, day))
        |SELECT priority, day, revenue,
        |  revenue - lag(revenue)
        |    OVER (PARTITION BY priority ORDER BY day) AS delta_revenue,
        |  is_gap
        |FROM filled ORDER BY priority, day""".stripMargin,

    "sk1_salted_join" -> plainJoinAggSql,
    "sk2_skew_split_join" -> plainJoinAggSql,
    "sk3_bloom_join" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "d6_fuzzy_pairs" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM names a JOIN names b
        |  ON a.p_name < b.p_name
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |  AND levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    "o5_intersect" ->
      """SELECT n_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |INTERSECT
        |SELECT n_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,

    "o6_except" ->
      """SELECT n_name FROM (
        |  SELECT DISTINCT s_nationkey FROM supplier
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey FROM supplier WHERE s_acctbal < 0)
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,

    "j7_classify_changes" ->
      """WITH incoming AS (
        |  SELECT p_partkey AS bk,
        |    CASE WHEN p_partkey % 11 = 0 THEN p_name || '_x'
        |         ELSE p_name END AS name,
        |    CASE WHEN p_partkey % 7 = 0 THEN p_retailprice + 1.0
        |         ELSE p_retailprice END AS price
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey + 1000000, p_name, p_retailprice
        |  FROM part WHERE p_partkey % 13 = 0),
        |existing AS (
        |  SELECT p_partkey AS bk, p_name AS name, p_retailprice AS price
        |  FROM part)
        |SELECT i.bk,
        |  CASE WHEN e.bk IS NULL THEN 'INSERT' ELSE 'UPDATE' END AS operation
        |FROM incoming i LEFT JOIN existing e ON i.bk = e.bk
        |WHERE e.bk IS NULL
        |   OR COALESCE(i.name,'') <> COALESCE(e.name,'')
        |   OR abs(i.price - e.price) > 0.01
        |ORDER BY i.bk""".stripMargin,

    "j8_merge_upsert" ->
      """SELECT p_partkey AS bk,
        |  CASE WHEN p_partkey % 11 = 0 THEN p_name || '_x'
        |       ELSE p_name END AS name,
        |  CASE WHEN p_partkey % 7 = 0 THEN p_retailprice + 1.0
        |       ELSE p_retailprice END AS price
        |FROM part
        |UNION ALL
        |SELECT p_partkey + 1000000, p_name, p_retailprice
        |FROM part WHERE p_partkey % 13 = 0
        |ORDER BY bk""".stripMargin,

    "s4_schema_mapper" ->
      """SELECT o_orderkey AS ORDER_ID,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS TOTAL_PRICE,
        |  CAST(o_orderdate AS DATE) AS FULL_DATE,
        |  CAST(NULL AS VARCHAR) AS CHANNEL
        |FROM orders ORDER BY ORDER_ID""".stripMargin,

    "j2b_resolve_dim_keys" ->
      """WITH facts AS (
        |  SELECT s_suppkey,
        |    CASE WHEN s_suppkey % 9 = 0 THEN n_name || '_ZZ'
        |         ELSE lower(' ' || n_name || '  ') END AS nation_raw
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |dim AS (
        |  SELECT upper(trim(n_name)) AS nk, MIN(n_nationkey) AS nation_key
        |  FROM nation GROUP BY 1)
        |SELECT f.s_suppkey, d.nation_key
        |FROM facts f LEFT JOIN dim d
        |  ON (CASE WHEN f.nation_raw IS NULL OR trim(f.nation_raw) = ''
        |      THEN '' ELSE upper(trim(f.nation_raw)) END) = d.nk
        |ORDER BY f.s_suppkey""".stripMargin,

    "w1b_contiguous_keys" ->
      """SELECT 1000000 + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS new_key
        |FROM supplier ORDER BY new_key""".stripMargin,

    "a8b_dedupe_keep_last" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC,
        |  l_extendedprice DESC) = 1
        |ORDER BY l_orderkey""".stripMargin,

    "lookup_dim_upsert" ->
      """WITH types AS (SELECT DISTINCT p_type AS value FROM part),
        |existing AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY value) AS BIGINT) AS key,
        |    value
        |  FROM types QUALIFY key <= 10),
        |fresh AS (
        |  SELECT value FROM types
        |  WHERE value NOT IN (SELECT value FROM existing)),
        |newrows AS (
        |  SELECT CAST(10 + ROW_NUMBER() OVER (ORDER BY value) AS BIGINT)
        |    AS key, value
        |  FROM fresh)
        |SELECT key, value FROM existing
        |UNION ALL SELECT key, value FROM newrows
        |ORDER BY key""".stripMargin,
  )
}
