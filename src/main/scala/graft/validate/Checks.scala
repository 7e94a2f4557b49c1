package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Cleansing

/** Declarative data-quality checks (SURVEY.md §2.8 V1-V10): the engine
  * behind the reference's validate_table.py CLI, re-expressed so that ALL
  * checks for a table evaluate in ONE aggregate query (one scan — the
  * reference runs one SQL per check; at 100 TB that's the difference
  * between 1 and 10 full-table reads). PK-uniqueness folds in as grouping
  * sets beside the scalar checks' indicator sums: one shuffle of the key
  * columns for all PKs of the table (see [[Validator.run]]).
  */
sealed trait Check
/** V1: row count >= n (validate_table.py:135-140, 277-285) */
final case class MinRows(n: Long) extends Check
/** V2: mandatory columns present (schema-level, :142-148) */
final case class MandatoryColumns(cols: Seq[String]) extends Check
/** V3: zero nulls in mandatory columns (:150-155, 287-302) */
final case class NoNulls(cols: Seq[String]) extends Check
/** V4: numeric-parsability after currency strip (:157-197) */
final case class NumericParsable(cols: Seq[String]) extends Check
/** V5: flag domain ∈ {Y,N}, no nulls/empties (:199-219) */
final case class FlagDomain(cols: Seq[String]) extends Check
/** V6: PK uniqueness (:221-231, 304-335) */
final case class PkUnique(cols: Seq[String]) extends Check
/** V7: freshness — rows exist where dateCol = execDate (:337-396);
  * warnOnly replays --skip_freshness_check's downgrade-to-warning. */
final case class Freshness(dateCol: String, execDate: String,
    warnOnly: Boolean = false) extends Check
/** Beyond parity: columns must be free of PII patterns (the email/phone
  * regexes of [[graft.operators.Curation.redactPii]]) — the release
  * gate a training-data pipeline runs AFTER redaction: observed = rows
  * still matching, pass only at zero. Rides the table's one aggregate query. */
final case class PiiFree(cols: Seq[String]) extends Check

final case class CheckResult(check: String, column: String,
    observed: Long, threshold: Long, passed: Boolean, severity: String)

/** V9: identifier-injection guard (validate_table.py:56-65, 250-257).
  * The reference whitelists `[A-Za-z0-9_$#]{1,128}` for every
  * table/column name arriving from the CLI before embedding it in SQL
  * text; the same contract is enforced here at check-evaluation entry
  * — each name a Check references, and each table label a suite tags
  * results with — so a hostile name fails loudly instead of reaching
  * any SQL/identifier surface downstream. */
object Identifiers {
  private val Safe = "^[A-Za-z0-9_$#]{1,128}$".r
  def isSafe(name: String): Boolean =
    name != null && Safe.matches(name)
  def requireSafe(name: String): String = {
    require(isSafe(name),
      s"Unsafe table/column name rejected: '$name'. " +
        "Only alphanumeric characters, _, $, # are allowed.")
    name
  }
}

object Validator {

  /** Column/table names referenced by a check (validated by V9). */
  private def referencedNames(c: Check): Seq[String] = c match {
    case MandatoryColumns(cols) => cols
    case NoNulls(cols)          => cols
    case NumericParsable(cols)  => cols
    case FlagDomain(cols)       => cols
    case PkUnique(cols)         => cols
    case Freshness(dc, _, _)    => Seq(dc)
    case PiiFree(cols)          => cols
    case MinRows(_)             => Nil
  }

  /** Evaluate all checks; returns one row per (check, column): the
    * schema checks, then the scalar checks, then each PkUnique, each in
    * the order given. Every scalar check is a per-row 0/1 indicator, and
    * one aggregate query evaluates them all together with every
    * PkUnique's count of duplicated key groups: grouping sets over the
    * PK columns, the empty set carrying the indicator sums and each PK's
    * set its groups, folded to one row by an outer aggregate. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    checks.flatMap(referencedNames).foreach(Identifiers.requireSafe)
    val present = df.columns.map(_.toUpperCase).toSet

    // schema-level checks need no job at all
    val schemaResults = checks.collect { case MandatoryColumns(cols) =>
      cols.map { c =>
        val ok = present.contains(c.toUpperCase)
        CheckResult("mandatory_column", c, if (ok) 1L else 0L, 1L, ok, "ERROR")
      }
    }.flatten

    // every scalar check with its per-row hit, then every PkUnique
    case class Slot(check: String, column: String, threshold: Long,
        passIfAtLeast: Boolean, severity: String)
    val scalars: Seq[(Slot, Column)] = checks.flatMap {
      case MinRows(n) => Seq(
        Slot("min_rows", "*", n, passIfAtLeast = true, "ERROR") -> lit(true))
      case NoNulls(cols) => cols.map(c =>
        Slot("no_nulls", c, 0L, passIfAtLeast = false, "ERROR") ->
          col(c).isNull)
      case NumericParsable(cols) => cols.map(c =>
        Slot("numeric_parsable", c, 0L, passIfAtLeast = false, "ERROR") ->
          (col(c).isNotNull && Cleansing.cleanNumericValidator(col(c)).isNull))
      case FlagDomain(cols) => cols.map(c =>
        Slot("flag_domain", c, 0L, passIfAtLeast = false, "ERROR") ->
          (col(c).isNull || !col(c).isin("Y", "N")))
      case Freshness(dateCol, execDate, warnOnly) =>
        Seq(Slot("freshness", dateCol, 1L, passIfAtLeast = true,
          if (warnOnly) "WARNING" else "ERROR") ->
          (col(dateCol).cast("date") === lit(execDate).cast("date")))
      case PiiFree(cols) => cols.map(c =>
        Slot("pii_free", c, 0L, passIfAtLeast = false, "ERROR") ->
          (col(c).isNotNull &&
            (col(c).rlike(graft.operators.Curation.emailRe) ||
             col(c).rlike(graft.operators.Curation.phoneRe))))
      case _ => Nil
    }
    val pks = checks.collect { case PkUnique(cols) => cols }
    val slots = scalars.map(_._1) ++ pks.map(cols => Slot("pk_unique",
      cols.mkString("+"), 0L, passIfAtLeast = false, "ERROR"))
    val keys = pks.flatten.distinct

    val observed: Seq[Long] = if (slots.isEmpty) Nil else {
      val base = df.select(keys.map(col) ++ scalars.zipWithIndex.map {
        case ((_, hit), i) => when(hit, 1L).otherwise(0L).as(s"__i$i") }: _*)
      // grouping_id sets bit (n-1-i) when keys(i) is NOT in the set
      def gid(set: Seq[String]): Long = keys.indices.collect {
        case i if !set.contains(keys(i)) => 1L << (keys.size - 1 - i) }.sum
      val inner = count(lit(1)).as("__n") +: scalars.indices.map(i =>
        sum(col(s"__i$i")).as(s"__s$i"))
      val groups =
        if (keys.isEmpty) base.agg(lit(0L).as("__g"), inner: _*)
        else base.groupingSets(Nil +: pks.distinct.map(_.map(col)),
          keys.map(col): _*).agg(grouping_id().as("__g"), inner: _*)
      val whole = col("__g") === gid(Nil)
      val outer = scalars.indices.map(i =>
        coalesce(sum(when(whole, col(s"__s$i"))), lit(0L))) ++
        pks.map(cols =>
          count(when(col("__g") === gid(cols) && col("__n") > 1, 1)))
      val row = groups.agg(outer.head, outer.tail: _*).collect()(0)
      outer.indices.map(row.getLong)
    }
    val aggResults = slots.zip(observed).map { case (s, v) =>
      val ok = if (s.passIfAtLeast) v >= s.threshold else v <= s.threshold
      CheckResult(s.check, s.column, v, s.threshold, ok, s.severity)
    }
    df.sparkSession.createDataFrame(schemaResults ++ aggResults)
  }

  /** Top-N duplicate examples for a failing PkUnique (V6's evidence,
    * validate_table.py:320-327). */
  def duplicateExamples(df: DataFrame, pk: Seq[String], n: Int = 5): DataFrame =
    df.groupBy(pk.map(col): _*).agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .orderBy(col("dup_count").desc +: pk.map(col): _*)
      .limit(n)

  /** Sketch-based profile for the 100 TB validator: exact min/max/count
    * (cheap partials) plus approx_count_distinct (HLL++) and
    * approx-percentile medians instead of their exact forms — COUNT
    * DISTINCT and exact percentiles are the two profile aggregates whose
    * exact versions need a full shuffle of the column; the sketches are
    * one pass, mergeable, and bounded-error (`rsd`, percentile
    * `accuracy`). One aggregation job for all columns, like
    * [[numericProfile]]. */
  def approxProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05,
      pctAccuracy: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"),
      count(col(c)).as(s"${c}__nonnull"),
      approx_count_distinct(col(c), rsd).as(s"${c}__approx_distinct"),
      percentile_approx(col(c).cast("double"), lit(0.5),
        lit(pctAccuracy)).as(s"${c}__approx_median"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) =>
      val b = i * 5
      (c, boxed(r, b), boxed(r, b + 1), r.getLong(b + 2), r.getLong(b + 3),
        boxed(r, b + 4))
    }.toDF("column", "min", "max", "non_null", "approx_distinct",
      "approx_median")
  }

  /** Self-verifying sketch profile for the GATE: emits the exact
    * aggregates (min/max/non_null — independently recomputable by the
    * DuckDB oracle) plus booleans asserting each sketch landed inside
    * its documented error bound, judged against exact references
    * computed in the SAME aggregation job. Sketch VALUES are
    * engine-specific and never enter the hash compare; the booleans do
    * — so an HLL++ or KLL regression that drifts past its bound flips a
    * boolean and breaks the gate, while legal sketch jitter doesn't.
    * Bounds: |approx_distinct − exact| ≤ max(2, 3·rsd·exact) (HLL++
    * rsd is a 1σ figure; 3σ); approx median's exact RANK within
    * quantile 0.5 ± 5/acc (sketch rank error is n/acc — 5× headroom),
    * checked by rank-counting in a second codegen'd pass rather than by
    * exact percentiles (which sort/collect the whole column).
    *
    * The distinct-bound leg is judged on a deterministic hash-sample of
    * each column's VALUE DOMAIN (values v with xxhash64(v) ≡ 0 mod
    * `distinctSampleMod`): HLL++'s relative-error contract holds on any
    * domain subset, sampling by value hash keeps approx and exact sides
    * counting the SAME subset on every engine and partitioning, and the
    * exact countDistinct reference — the one full-shuffle job here —
    * then shuffles only ~1/mod of the distinct values, with the row
    * pre-filter evaluated in the scan. Set distinctSampleMod=1 to judge
    * the full domain. Prefer [[approxProfile]] for production
    * profiling. */
  def approxProfileChecked(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05, pctAccuracy: Int = 1000,
      distinctSampleMod: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(distinctSampleMod >= 1)
    def inSample(c: String): Column =
      pmod(xxhash64(col(c)), lit(distinctSampleMod.toLong)) === 0L
    // pass 1: sketches + exact scalars. Exact PERCENTILES are
    // deliberately absent — they sort/collect the column (measured 22 s
    // on 600k rows × 3 cols) when the bound can be checked by RANK
    // COUNTING instead. Exact countDistinct runs as its OWN job below:
    // mixing a distinct aggregate into this one makes Spark route the
    // ×(cols+1) Expand through the KLL/HLL object aggregates (measured
    // 13 s combined vs ~4 s split).
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"),
      count(col(c)).as(s"${c}__nonnull"),
      approx_count_distinct(when(inSample(c), col(c)), rsd)
        .as(s"${c}__ad"),
      percentile_approx(col(c).cast("double"), lit(0.5),
        lit(pctAccuracy)).as(s"${c}__am"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // exact reference: rows contributing to no column's sampled domain
    // never leave the scan stage
    val edAggs = cols.map(c =>
      countDistinct(when(inSample(c), col(c))).as(s"${c}__ed"))
    val er = df.filter(cols.map(inSample).reduce(_ || _))
      .agg(edAggs.head, edAggs.tail: _*).collect()(0)
    def d(i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    val ams = cols.zipWithIndex.map { case (c, i) => c -> d(i * 5 + 4) }
    // pass 2: the approx median is an actual data value; its rank
    // interval is (#<am, #<=am]. It lies within quantile 0.5 ± 5/acc of
    // the exact distribution iff that interval intersects
    // [(0.5-5/acc)·n, (0.5+5/acc)·n] — two codegen'd conditional sums
    // per column, no sort, no per-value state.
    val rankAggs = ams.flatMap { case (c, am) => Seq(
      sum(when(col(c).cast("double") < am, 1L).otherwise(0L))
        .as(s"${c}__lo"),
      sum(when(col(c).cast("double") <= am, 1L).otherwise(0L))
        .as(s"${c}__hi"))
    }
    val rr = df.agg(rankAggs.head, rankAggs.tail: _*).collect()(0)
    def rl(i: Int): Long = if (rr.isNullAt(i)) 0L else rr.getLong(i)
    cols.zipWithIndex.map { case (c, i) =>
      val b = i * 5
      val (ad, ed) = (r.getLong(b + 3), er.getLong(i))
      val n = r.getLong(b + 2)
      val distinctOk = math.abs(ad - ed) <= math.max(2.0, 3 * rsd * ed)
      val tol = 5.0 / pctAccuracy
      val medianOk = n == 0L ||
        (rl(i * 2) + 1 <= (0.5 + tol) * n && rl(i * 2 + 1) >= (0.5 - tol) * n)
      (c, d(b), d(b + 1), n, distinctOk, medianOk)
    }.toDF("column", "min", "max", "non_null", "distinct_ok", "median_ok")
  }

  /** V8: numeric profile per column in one pass (:398-415). avg is
    * decimal-sum/count for cross-engine determinism. */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"),
      (sum(col(c).cast(DecimalType(18, 4))).cast("double") / count(col(c)))
        .as(s"${c}__avg"),
      count(col(c)).as(s"${c}__nonnull"))
    }
    // unpivot to (column, min, max, avg, non_null) rows
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) => (c, boxed(r, i * 4),
      boxed(r, i * 4 + 1), boxed(r, i * 4 + 2), r.getLong(i * 4 + 3))
    }.toDF("column", "min", "max", "avg", "non_null")
  }

  /** Double slot `i` of `r`, boxed: min/max/avg are null for an empty
    * table or all-null column — exactly the degenerate inputs a
    * validator must survive. */
  private def boxed(r: Row, i: Int): java.lang.Double =
    if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))

  /** V10: the DAG-shaped suite — named tables with their contracts,
    * evaluated in order (dims ∥ → fact → file in the reference; order
    * here is the caller's list). Returns results tagged by table. */
  def suite(tables: Seq[(String, DataFrame, Seq[Check])]): DataFrame =
    tables.map { case (name, df, checks) =>
      Identifiers.requireSafe(name)
      run(df, checks).withColumn("table", lit(name))
    }.reduce(_ unionByName _)
}
