package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus
  * deterministic-aggregation helpers used by every oracle-checked query.
  *
  * Determinism note: double-sum order differs between Spark (parallel,
  * partition-order) and DuckDB (sequential). To make results hash-comparable
  * we do per-row arithmetic in DOUBLE (bit-identical IEEE in both engines),
  * cast the row value to DECIMAL(18,4) (same rounding both sides), sum
  * exactly (decimal addition is associative), and cast the total back to
  * DOUBLE. The mirrored SQL pattern is
  * `CAST(SUM(CAST(expr AS DECIMAL(18,4))) AS DOUBLE)`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Thrown when a driver-generated table's footer no longer matches the
    * logical schema the engine was built against. The testdata has drifted
    * shape once already (events.ts nanos→micros, 2026-08-13); a NAMED
    * error listing exactly which columns moved beats whatever arbitrary
    * analysis exception the first downstream expression would throw. */
  final class SchemaDriftException(table: String, issues: Seq[String])
    extends IllegalStateException(
      s"testdata schema drift in table '$table': ${issues.mkString("; ")}" +
      " — update graft.Tables.expectedSchemas (and any loader conversion)" +
      " for the new footer shape")

  /** A named family of acceptable Spark types for one logical column —
    * loose enough to tolerate benign physical drift (int32↔int64 keys,
    * nanos-as-long↔timestamp), tight enough that a breaking change (string
    * where a numeric was, dropped column) fails loudly by name. */
  private final case class TypeFamily(label: String)(ok0: DataType => Boolean) {
    def ok(dt: DataType): Boolean = ok0(dt)
  }
  private val integralT = TypeFamily("integral") {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }
  private val fractionalT = TypeFamily("fractional") {
    case FloatType | DoubleType | _: DecimalType => true; case _ => false
  }
  private val stringT = TypeFamily("string") { _ == StringType }
  // LongType admitted: parquet TIMESTAMP(NANOS) arrives as long under the
  // nanosAsLong conf and the events loader converts it downstream.
  // DateType deliberately NOT admitted: events.ts carries time-of-day that
  // sessionization depends on, so a date-typed footer is breaking drift and
  // must raise the NAMED SchemaDriftException (admitting it here would
  // instead hit the loader's generic unsupported-type fallback).
  private val timestampT = TypeFamily("timestamp") {
    case TimestampType | TimestampNTZType | LongType => true
    case _ => false
  }
  // Date-grain columns (o_orderdate, l_shipdate): day precision is the
  // logical grain, so a DateType footer is benign physical drift.
  private val dateT = TypeFamily("date") {
    case DateType | TimestampType | TimestampNTZType | LongType => true
    case _ => false
  }
  private val floatVecT = TypeFamily("array<float>") {
    case ArrayType(FloatType | DoubleType, _) => true; case _ => false
  }

  /** Required logical columns per driver table (TESTDATA.md). Extra columns
    * are allowed (additive drift is benign); missing or re-typed ones throw. */
  private val expectedSchemas: Map[String, Seq[(String, TypeFamily)]] = Map(
    "region"   -> Seq("r_regionkey" -> integralT, "r_name" -> stringT),
    "nation"   -> Seq("n_nationkey" -> integralT, "n_name" -> stringT,
                      "n_regionkey" -> integralT),
    "customer" -> Seq("c_custkey" -> integralT, "c_name" -> stringT,
                      "c_nationkey" -> integralT, "c_acctbal" -> fractionalT,
                      "c_mktsegment" -> stringT),
    "supplier" -> Seq("s_suppkey" -> integralT, "s_name" -> stringT,
                      "s_nationkey" -> integralT, "s_acctbal" -> fractionalT),
    "part"     -> Seq("p_partkey" -> integralT, "p_name" -> stringT,
                      "p_brand" -> stringT, "p_type" -> stringT,
                      "p_size" -> integralT, "p_retailprice" -> fractionalT),
    "orders"   -> Seq("o_orderkey" -> integralT, "o_custkey" -> integralT,
                      "o_orderstatus" -> stringT, "o_totalprice" -> fractionalT,
                      "o_orderdate" -> dateT, "o_orderpriority" -> stringT),
    "lineitem" -> Seq("l_orderkey" -> integralT, "l_partkey" -> integralT,
                      "l_suppkey" -> integralT, "l_linenumber" -> integralT,
                      "l_quantity" -> fractionalT,
                      "l_extendedprice" -> fractionalT,
                      "l_discount" -> fractionalT, "l_tax" -> fractionalT,
                      "l_returnflag" -> stringT, "l_linestatus" -> stringT,
                      "l_shipdate" -> dateT),
    "events"   -> Seq("event_id" -> integralT, "ts" -> timestampT,
                      "user_id" -> integralT, "event_type" -> stringT,
                      "value" -> fractionalT, "props" -> stringT),
    "documents" -> Seq("doc_id" -> integralT, "text" -> stringT,
                      "lang" -> stringT, "source" -> stringT,
                      "n_chars" -> integralT),
    "embeddings" -> Seq("vec_id" -> integralT, "embedding" -> floatVecT,
                      "label" -> integralT))

  /** Validate a resolved schema against the registry; throws a
    * [[SchemaDriftException]] naming EVERY drifted column at once. */
  def validateSchema(name: String, schema: StructType): Unit =
    expectedSchemas.get(name).foreach { expected =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val issues = expected.flatMap { case (colName, fam) =>
        byName.get(colName) match {
          case None => Some(s"missing column '$colName' (expected ${fam.label})")
          case Some(dt) if !fam.ok(dt) =>
            Some(s"column '$colName' expected ${fam.label}, footer has ${dt.simpleString}")
          case _ => None
        }
      }
      if (issues.nonEmpty) throw new SchemaDriftException(name, issues)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    validateSchema(name, df.schema)
    df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) and
    * timestamp[us] across testdata generations, so the loader adapts to
    * whatever the footer delivers instead of assuming one physical type:
    *
    *  - TIMESTAMP(NANOS): Spark rejects it outright (PARQUET_TYPE_ILLEGAL),
    *    so it is read as long (the `nanosAsLong` conf, which the session
    *    recipe `GraftSession.builder` sets; this loader never sets it)
    *    and converted with integer division — `div`, not `/`, because
    *    double division loses precision above 2^53 ns. DuckDB's
    *    TIMESTAMP_NS→TIMESTAMP cast truncates identically.
    *  - timestamp[us] with isAdjustedToUTC=false: arrives as TIMESTAMP_NTZ;
    *    cast to the session-zone TimestampType (identity under the UTC
    *    session zone every entrypoint sets) so downstream code and the
    *    written result parquet keep the same type as the nanos path.
    *  - timestamp[us] adjusted to UTC: already TimestampType, pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — testdata drifted " +
        "again; extend Tables.events to handle it")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Name-dispatched loader that routes through the TYPED readers, so
    * events.ts arrives as a timestamp whatever its physical type. */
  def table(s: SparkSession, d: String, name: String): DataFrame =
    name match {
      case "events" => events(s, d)
      case other => load(s, d, other)
    }

  /** Spread a low-parallelism frame across the cluster before a
    * CPU-heavy per-row kernel (MinHash/md5/regex/tokenize passes).
    *
    * The testdata tables are single parquet files with one row group,
    * so every scan plans to ONE task regardless of
    * `spark.sql.files.maxPartitionBytes` — and a per-row kernel
    * downstream of such a scan runs single-threaded (measured: each
    * SignatureStore batch signing was a 1-task ~1 s job at sf0.1,
    * cores idle). At production scale the input has >= cores splits
    * and this is a NO-OP — the guard keeps it from ever adding an
    * exchange to a well-partitioned input (guide §2.5 "input skew:
    * repartition immediately after the read").
    *
    * Hash-partitioning on `key` keeps row placement deterministic
    * under task retries (never round-robin on top of nondeterministic
    * input, SPARK-38388); callers pass the row's id/key column.
    *
    * The parallelism probe is `inputFiles` (driver-side listing, no
    * job) rather than `rdd.getNumPartitions` — materializing the RDD
    * of an AQE plan with upstream exchanges would EXECUTE those
    * stages at plan-construction time. One file can still hold many
    * row groups at production sizes; the heuristic only needs to
    * catch the few-small-files regime, where it is exact. */
  def fanout(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.length >= p) return df
    // r15 ADVICE: one production-size file holds many row groups and
    // splits into size-based scan partitions — bound by estimated scan
    // bytes too, so a few-big-files input (file count < cores but
    // bytes/maxPartitionBytes >= cores) keeps its natural split
    // parallelism instead of paying a payload shuffle. Bounded driver
    // work: < cores paths stat'd. Non-file inputs (empty list, e.g.
    // streaming micro-batches) keep the spread — their parallelism
    // comes from a source this probe can't see, and the kernels behind
    // fanout() are the ones worth one narrow shuffle when in doubt.
    if (files.nonEmpty) {
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      val bytes = files.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        try path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(path).getLen
        catch { case _: java.io.IOException => 0L }
      }.sum
      if (bytes / math.max(maxPart, 1L) >= p) return df
    }
    df.repartition(p, key)
  }

  /** Exact (order-independent) sum of a double expression, surfaced as double. */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Exact average: decimal sum cast to double, divided by count (IEEE-stable). */
  def davg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dsum(c) / count(c)

  /** Money arithmetic must be decimal END-TO-END: a double MULTIPLY creates
    * values with arbitrary fraction tails, and double→decimal rounding of
    * those tails differs between Spark (HALF_UP on the shortest string
    * repr) and DuckDB (binary half-even) — observed 1e-4-per-row drift on
    * sf0.01. Casting the 2/4-decimal SOURCE values to decimal first is safe
    * (they sit ~1e-12 from the true decimal, never at a midpoint); decimal
    * ×/− are then exact in both engines. SQL mirror: CAST(x AS DECIMAL(15,2)).
    */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(15, 2))
  def dec4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(9, 4))
}
