package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the entry points' recipe
  * (`GraftSession`) at 4 cores, so unit tests stay fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.jdk.CollectionConverters._

  /** One-column string DataFrame from values (nulls allowed). */
  def strDf(values: Seq[String], name: String = "v"): DataFrame = {
    val rows = values.map(v => org.apache.spark.sql.Row(v)).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(name,
        org.apache.spark.sql.types.StringType, nullable = true)))
    spark.createDataFrame(rows, schema)
  }

  /** Evaluate a Column fn over string inputs, returning outputs as
    * Option[String] in input order. */
  def evalStr(fn: Column => Column, inputs: Seq[String]): Seq[Option[String]] = {
    import org.apache.spark.sql.functions._
    strDf(inputs.zipWithIndex.map(_._1))
      .withColumn("__i", monotonically_increasing_id())
      .withColumn("out", fn(col("v")).cast("string"))
      .orderBy("__i")
      .collect().toSeq.map(r => Option(r.getAs[String]("out")))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
