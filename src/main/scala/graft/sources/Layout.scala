package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipelines.BatchLog

/** Storage layout for the 100 TB fact: hive-style date partitioning.
  *
  * The reference stores facts unpartitioned (Oracle heap + whole-file
  * CSVs) and every daily job touches everything. At scale the fact is
  * partitioned by a coarse date key so that (a) the daily load APPENDS
  * one partition instead of rewriting anything, and (b) any query with
  * a date predicate prunes to the partitions it needs — `.explain`
  * shows it as `PartitionFilters`, and pruned partitions are never
  * listed, opened, or scanned.
  *
  * The partition column is a derived `p_month` (yyyyMM int): daily
  * granularity would create 36k directories over a decade — month keeps
  * the partition count in the thousands and each partition
  * bucket-splittable by maxPartitionBytes.
  */
object Layout {

  /** yyyyMM partition key derived from a date/timestamp column. */
  def monthKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (year(c) * 100 + month(c)).cast("int")

  /** Write `df` partitioned by month of `dateCol`. */
  def writeMonthPartitioned(df: DataFrame, dateCol: String,
      path: String): Unit =
    df.withColumn("p_month", monthKey(col(dateCol)))
      .write.mode("overwrite").partitionBy("p_month").parquet(path)

  /** Append exactly one month's rows (the daily-load shape: touches one
    * directory, rewrites nothing). */
  def appendMonth(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("p_month", monthKey(col(dateCol)))
      .write.mode("append").partitionBy("p_month").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** N-column Z-order (Morton) key: interleave the low `bits` bits of
    * each column so one sort clusters EVERY listed dimension at once.
    * Month partitioning prunes on date; inside a partition a plain
    * sort clusters only its leading column — a filter on any other
    * column still opens every row group. Sorting by the Morton key
    * gives each written file a narrow min/max envelope on ALL z
    * columns, so parquet row-group stats prune scans on any of them
    * (the same trick as Delta/Iceberg Z-ORDER, here as a plain
    * column expression — codegen'd shifts, no UDF, no shuffle beyond
    * the range partition the write needs anyway).
    *
    * Inputs must already be non-negative integer surrogates below
    * 2^bits (ranks, bucketed timestamps, `pmod`-hashed ids — the
    * caller picks the normalization; out-of-range values fail loudly
    * rather than silently interleaving garbage). n*bits <= 63 keeps
    * the key in one BIGINT. */
  def zorderKey(cols: Seq[org.apache.spark.sql.Column], bits: Int)
      : org.apache.spark.sql.Column = {
    val n = cols.size
    require(n >= 1, "zorderKey needs at least one column")
    require(bits >= 1 && n * bits <= 63,
      s"n*bits must fit a signed 64-bit key: n=$n bits=$bits")
    val bound = 1L << bits
    val checked = cols.map(c => when(c.cast("long").isNull ||
        c.cast("long") < 0 || c.cast("long") >= bound,
      raise_error(concat(lit(s"zorderKey: value out of [0, $bound): "),
        c.cast("string")))).otherwise(c.cast("long")))
    (for {
      i <- 0 until bits
      (c, j) <- checked.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ + _)
  }

  /** Write `df` Z-clustered on `zcols` (each paired with its bit
    * width's normalized expression): range-partition then sort by the
    * Morton key, so files tile the z-curve — every file's min/max
    * envelope is narrow on every z column. `maxRecordsPerFile` caps
    * file size (0 = writer default); at 100 TB the range exchange is
    * the one shuffle a clustered rewrite fundamentally needs. */
  def zorderWrite(df: DataFrame, path: String,
      zcols: Seq[org.apache.spark.sql.Column], bits: Int,
      maxRecordsPerFile: Long = 0L): Unit =
    df.withColumn("__z", zorderKey(zcols, bits))
      .repartitionByRange(col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Compact one partition's small files — the maintenance job the
    * append-only layout needs: every [[appendMonth]] adds task-count
    * files, and at 100 TB unchecked file counts dominate planning time
    * (listing + footer reads) long before data size does. Rewrites the
    * partition into ceil(bytes / targetBytes) files and commits it with
    * [[graft.pipelines.BatchLog.replaceDir]] (readers of other
    * partitions are unaffected; a reader of this one calls
    * `recoverDir` on it first, as this method does).
    * Returns (filesBefore, filesAfter). */
  def compactPartition(spark: SparkSession, path: String,
      partition: String, targetBytes: Long = 128L * 1024 * 1024)
      : (Int, Int) = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/$partition")
    // the partition's own filesystem, not fs.defaultFS — they differ
    // when compacting e.g. an object-store path from an HDFS-default
    // cluster
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    BatchLog.recoverDir(spark, dir.toString)
    def parquetFiles = fs.listStatus(dir).filter(f =>
      f.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles
    val bytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (before.length <= n) return (before.length, before.length)
    BatchLog.replaceDir(spark, dir.toString)(
      spark.read.parquet(dir.toString).repartition(n)
        .write.mode("overwrite").parquet(_))
    (before.length, parquetFiles.length)
  }
}
