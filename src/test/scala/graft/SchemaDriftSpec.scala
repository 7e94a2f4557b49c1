package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The driver has regenerated /root/testdata with a changed physical schema
  * once already (events.ts TIMESTAMP(NANOS) → timestamp[us], 2026-08-13).
  * These specs pin the two defenses: the events loader adapts to either
  * physical ts type, and any OTHER drift fails with a named
  * SchemaDriftException instead of an arbitrary downstream analysis error.
  */
class SchemaDriftSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-drift").toFile.getAbsolutePath

  test("events loader adapts: micros timestamp passes through as timestamp") {
    val dir = tmpDir()
    Seq((1L, "2024-01-01 00:00:01", 10L, "view", 1.5, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head() === "2024-01-01 00:00:01")
  }

  test("events loader adapts: nanos-as-long converts via integer division") {
    val dir = tmpDir()
    // A long ts column stands in for TIMESTAMP(NANOS) read under the
    // nanosAsLong conf (Spark can't WRITE nanos parquet to simulate it
    // more directly). 1704067201500000001 ns = 2024-01-01 00:00:01.5 UTC.
    Seq((1L, 1704067201500000001L, 10L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .as[String].head() === "2024-01-01 00:00:01.500")
  }

  test("re-typed column fails with a named drift error listing the column") {
    val dir = tmpDir()
    Seq((1L, "not-a-number", "A", "t", 1, 1.0))
      .toDF("p_partkey", "p_retailprice", "p_brand", "p_type", "p_size",
        "p_name_wrong")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val e = intercept[Tables.SchemaDriftException] {
      Tables.part(spark, dir)
    }
    assert(e.getMessage.contains("table 'part'"))
    assert(e.getMessage.contains(
      "column 'p_retailprice' expected fractional, footer has string"))
    assert(e.getMessage.contains("missing column 'p_name'"))
  }

  test("additive drift (extra columns) is benign") {
    val dir = tmpDir()
    Seq((0, "AFRICA", "extra"))
      .toDF("r_regionkey", "r_name", "r_comment_new")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).count() === 1L)
  }

  test("unexpected events.ts type names the drift, not a binary-op error") {
    val dir = tmpDir()
    Seq((1L, "2024-01-01", 10L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[Tables.SchemaDriftException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("column 'ts' expected timestamp"))
  }

  test("events loader reads the recipe's conf and never changes it") {
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val spark2 = spark.newSession()
    spark2.conf.set(nanosKey, "false")
    // the sf0.001 events.ts is timestamp[us]: no conf needed to read it
    val df = Tables.events(spark2, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(spark2.conf.get(nanosKey) === "false")
  }

  test("the test session is built from the GraftSession recipe") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") === "512")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.extensions")
      .contains("graft.sql.GraftExtensions"))
  }
}
