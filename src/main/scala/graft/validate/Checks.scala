package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Cleansing

/** Declarative data-quality checks (SURVEY.md §2.8 V1-V10): the engine
  * behind the reference's validate_table.py CLI, re-expressed so that ALL
  * checks of a suite evaluate in ONE query (the reference runs one SQL
  * per check; at 100 TB that's the difference between 1 and 10 full-table
  * reads per table): each table is read once, its scalar checks'
  * indicator sums and every PK's key groups in one aggregate (see
  * [[Validator.query]]).
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
  * still matching, pass only at zero. Rides the suite's one query. */
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
    * the order given. The one-table case of [[suite]]. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame =
    df.sparkSession.createDataFrame(evaluate(Seq(df -> checks)).head)

  /** V10: the DAG-shaped suite — named tables with their contracts
    * (dims ∥ → fact → file in the reference; order here is the caller's
    * list). Returns each table's [[run]] rows in turn, tagged by table,
    * from one query with one collect: [[query]]. */
  def suite(tables: Seq[(String, DataFrame, Seq[Check])]): DataFrame =
    tables.head._2.sparkSession.createDataFrame(tables.map(t =>
        Identifiers.requireSafe(t._1)).zip(evaluate(tables.map(t =>
        t._2 -> t._3))).flatMap { case (n, rs) => rs.map(n -> _) })
      .select(col("_2.*"), col("_1").as("table"))

  /** A check's result for observed value `v`: passed when `v` is at
    * least `threshold` (`atLeast`), else at most it. */
  private def judged(check: String, column: String, threshold: Long,
      atLeast: Boolean = false, severity: String = "ERROR")(v: Long) =
    CheckResult(check, column, v, threshold,
      if (atLeast) v >= threshold else v <= threshold, severity)

  /** A table's checks: the schema results, which need no job, then each
    * scalar check's per-row hit, then the PKs. */
  private final case class Plan(schema: Seq[CheckResult],
      scalars: Seq[(Long => CheckResult, Column)], pks: Seq[Seq[String]]) {
    def slots: Seq[Long => CheckResult] = scalars.map(_._1) ++
      pks.map(cols => judged("pk_unique", cols.mkString("+"), 0L) _)
  }

  /** Per column of `cols`: a check passed at 0 rows hit, and its hit. */
  private def hits(check: String, cols: Seq[String])(hit: Column => Column) =
    cols.map(c => judged(check, c, 0L) _ -> hit(col(c)))

  private def plan(df: DataFrame, checks: Seq[Check]): Plan = {
    checks.flatMap(referencedNames).foreach(Identifiers.requireSafe)
    val present = df.columns.map(_.toUpperCase).toSet
    Plan(checks.collect { case MandatoryColumns(cols) => cols.map(c =>
        judged("mandatory_column", c, 1L, atLeast = true)(
          if (present.contains(c.toUpperCase)) 1L else 0L))
      }.flatten,
      checks.flatMap {
        case MinRows(n) =>
          Seq(judged("min_rows", "*", n, atLeast = true) _ -> lit(true))
        case NoNulls(cols) => hits("no_nulls", cols)(_.isNull)
        case NumericParsable(cols) => hits("numeric_parsable", cols)(c =>
          c.isNotNull && Cleansing.cleanNumericValidator(c).isNull)
        case FlagDomain(cols) =>
          hits("flag_domain", cols)(c => c.isNull || !c.isin("Y", "N"))
        case Freshness(dateCol, execDate, warnOnly) =>
          Seq(judged("freshness", dateCol, 1L, atLeast = true,
            if (warnOnly) "WARNING" else "ERROR") _ ->
            (col(dateCol).cast("date") === lit(execDate).cast("date")))
        case PiiFree(cols) => hits("pii_free", cols)(c => c.isNotNull &&
          (c.rlike(graft.operators.Curation.emailRe) ||
            c.rlike(graft.operators.Curation.phoneRe)))
        case _ => Nil
      },
      checks.collect { case PkUnique(cols) => cols })
  }

  /** Each table's results from one collect of [[query]]. */
  private def evaluate(
      tables: Seq[(DataFrame, Seq[Check])]): Seq[Seq[CheckResult]] = {
    val planned = tables.map { case (df, checks) => df -> plan(df, checks) }
    val observed = planned.map(p => new Array[Long](p._2.slots.size))
    if (observed.exists(_.nonEmpty))
      query(planned).collect().foreach { r =>
        val (t, b, v) = (r.getInt(0), r.getInt(1), r.getSeq[Long](2))
        // PK 0's row fills the scalars and its own slot, PK b > 0's its own
        if (b == 0) v.copyToArray(observed(t))
        else observed(t)(planned(t)._2.scalars.size + b) = v.last
      }
    planned.zip(observed).map { case ((_, p), vs) =>
      p.schema ++ p.slots.zip(vs).map { case (judge, v) => judge(v) } }
  }

  /** [[query]] over `tables`' checks, for the plan tripwires. */
  private[graft] def aggregates(tables: Seq[(DataFrame, Seq[Check])]) =
    query(tables.map { case (df, checks) => df -> plan(df, checks) })

  /** The suite's one query: rows (table index, PK index b, values). Each
    * table is read once: with k > 1 PKs every row is exploded into one
    * row per PK, b's key columns kept and the others nulled, and one
    * aggregate over (b, keys) counts each PK's duplicated key groups. The
    * scalar checks' hit sums ride the same groups; PK 0's row carries
    * them, then its count (a table with no PK sums its rows directly).
    * A table whose optimized-plan size estimate is within Spark's
    * smallest file split (`spark.sql.files.openCostInBytes`) is gathered
    * into one partition, where its aggregates run without an exchange. */
  private def query(tables: Seq[(DataFrame, Plan)]): DataFrame =
    tables.zipWithIndex.collect { case ((df, p), t) if p.slots.nonEmpty =>
      val sums = p.scalars.indices.map(i => s"__i$i")
      val keys = p.pks.flatten.distinct
      val b = if (p.pks.size > 1) explode(array(p.pks.indices.map(lit): _*))
        else lit(0)
      val rows = df.select((b.as("__b") +: keys.map(col)) ++ p.scalars
          .zip(sums).map { case ((_, hit), i) =>
            when(hit, 1L).otherwise(0L).as(i) }: _*)
        .withColumns(keys.map(k => k -> when(col("__b").isin(p.pks.indices
          .filter(p.pks(_).contains(k)): _*), col(k))).toMap)
      val gathered = if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.filesOpenCostInBytes)
        rows.coalesce(1) else rows
      (if (p.pks.isEmpty) gathered else gathered
        .groupBy(col("__b") +: keys.map(col): _*)
        .agg(count(lit(1)).as("__n"), sums.map(c => sum(col(c)).as(c)): _*))
        .groupBy("__b").agg(array(sums.map(c => sum(col(c))) ++
          p.pks.take(1).map(_ => count(when(col("__n") > 1, 1))): _*).as("v"))
        .select(lit(t).as("t"), col("__b"), col("v"))
    }.reduce(_ union _)

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
}
