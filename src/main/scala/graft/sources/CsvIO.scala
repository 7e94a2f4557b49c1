package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, StructField, StringType}
import org.apache.hadoop.fs.{FileSystem, Path}

/** File interchange exactly as the reference speaks it (SURVEY §2.1):
  * pipe/comma CSV with header, all-string ingestion with the reference's
  * null-token set, Current/→Archive/ rotation, and the processed-file
  * ledger for at-most-once incremental consumption.
  */
object CsvIO {

  /** The reference's null tokens (load_fact_sales_dw.py:85-88). Spark's
    * csv reader takes ONE nullValue; '' and 'NULL' variants are covered by
    * reading all-string + post-mapping in SchemaMapper cleaning, so we
    * set the most common token here and let cleaners handle the rest. */
  val NullTokens: Seq[String] = Seq("", "NULL", "null", "NA")

  /** All-string read (dtype=str semantics): every column StringType, so
    * downstream cleaning/casting is explicit and null-coercing. */
  def readAllString(spark: SparkSession, path: String, sep: String = "|",
      header: Boolean = true): DataFrame = {
    val peek = spark.read.option("sep", sep).option("header", header)
      .csv(path)
    val allString = StructType(peek.schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    spark.read.option("sep", sep).option("header", header)
      .option("nullValue", "NULL")
      .schema(allString).csv(path)
  }

  def write(df: DataFrame, path: String, sep: String = "|",
      header: Boolean = true): Unit =
    df.write.mode("overwrite").option("sep", sep)
      .option("header", header).csv(path)

  /** S6: rotate everything in `current` into `archive` before a new
    * extract lands (extract_sales_daily.py:18-23). Hadoop rename — works
    * on HDFS/S3A committers alike. An entry whose name is already
    * archived lands under the first free `<name>.<n>` (n = 1, 2, …):
    * renaming onto an existing directory would nest the entry inside
    * it, and each archived extract must stay its own entry. A rename
    * that returns false raises. Returns the number of entries moved. */
  def rotate(spark: SparkSession, current: String, archive: String): Int = {
    val cur = new Path(current)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val arc = new Path(archive)
    if (!fs.exists(cur)) return 0
    if (!fs.exists(arc)) fs.mkdirs(arc)
    val taken = scala.collection.mutable.Set(
      fs.listStatus(arc).map(_.getPath.getName).toSeq: _*)
    // entries may be plain files (the reference's case) or the directory
    // outputs a distributed CSV sink produces — rotate both
    val entries = fs.listStatus(cur).map(_.getPath)
    entries.foreach { src =>
      val name = Iterator.from(0)
        .map(n => if (n == 0) src.getName else s"${src.getName}.$n")
        .find(!taken(_)).get
      val dst = new Path(arc, name)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"rotate: renaming $src to $dst failed")
      taken += name
    }
    entries.length
  }
}

/** S5/S7: the processed-file ledger — `filename|timestamp` per consumed
  * file, one file consumed per run, newest-first (load_fact_sales_dw.py:
  * 22-35, 65-79). Kept as a parquet table + anti-join; it is the engine's
  * one exactly-once mechanism for incoming files: a marked file is never
  * offered again, and a file that arrives later is the next one.
  */
object Ledger {

  /** Files present minus files consumed, newest name first (the
    * reference sorts basenames descending — names embed dates). */
  def unprocessed(files: DataFrame, ledger: DataFrame): DataFrame =
    files.join(ledger.select("filename"), Seq("filename"), "left_anti")
      .orderBy(org.apache.spark.sql.functions.col("filename").desc)

  /** The single next file to consume, if any. */
  def nextUnprocessed(files: DataFrame, ledger: DataFrame): Option[String] =
    unprocessed(files, ledger).limit(1).collect()
      .headOption.map(_.getString(0))

  /** Append a consumption record (idempotent re-append is harmless: the
    * anti-join keys on filename). */
  def markProcessed(spark: SparkSession, ledgerPath: String,
      filename: String, ts: String): Unit = {
    import spark.implicits._
    Seq((filename, ts)).toDF("filename", "processed_at")
      .write.mode("append").parquet(ledgerPath)
  }

  /** List a directory as a (filename) DataFrame with the reference's
    * prefix/suffix filter (e.g. "sales_", ".csv"). */
  def listFiles(spark: SparkSession, dir: String, prefix: String,
      suffix: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) && n.endsWith(suffix)).toSeq
    names.toDF("filename")
  }
}
