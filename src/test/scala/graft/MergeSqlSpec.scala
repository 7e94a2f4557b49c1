package graft

import graft.ops.MergeInto
import org.apache.spark.sql.functions._

/** MERGE INTO SQL over plain parquet tables — the reference's native
  * idiom (Oracle MERGE, load_dim_product_dw.py:634-670) executed through
  * the injected parser + join-based merge command. */
class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def dropAll(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  override def afterAll(): Unit = {
    dropAll("ms_t", "ms_s", "ms_t__merge_stg", "ms_b", "ms_bs",
      "ms_b__merge_stg")
    super.afterAll()
  }

  test("MERGE INTO: update-star + insert-star, then idempotent re-run") {
    dropAll("ms_t", "ms_s")
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((2L, "b2", 21.0), (3L, "c", 30.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_s")

    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val got = spark.table("ms_t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0)))

    // re-running the same merge is a no-op
    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("ms_t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq === got)
  }

  test("MERGE INTO: guards and explicit SET / INSERT column lists") {
    dropAll("ms_t", "ms_s")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (4L, "d", 40.0))
      .toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((1L, "a2", 5.0), (2L, "b2", 99.0), (3L, "c", 30.0),
      (40L, "huge", 1.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_s")

    // operation-guarded like the reference: update only when the source
    // value is larger; insert only small keys; SET touches v only
    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k = s.k
      |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED AND s.k < 10 THEN INSERT (k, name, v)
      |  VALUES (s.k, s.name, s.v)""".stripMargin)

    val got = spark.table("ms_t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 10.0),   // guard s.v > t.v false -> untouched
      (2L, "b", 99.0),   // updated v only; name kept
      (3L, "c", 30.0),   // inserted (k < 10)
      (4L, "d", 40.0)))  // target-only passthrough; 40L filtered out
  }

  test("MERGE INTO preserves a bucketed target's layout") {
    dropAll("ms_b", "ms_bs")
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.format("parquet")
      .bucketBy(4, "k").sortBy("k").saveAsTable("ms_b")
    Seq((2L, 2.5), (3L, 3.0)).toDF("k", "v").write.format("parquet")
      .saveAsTable("ms_bs")

    spark.sql("""MERGE INTO ms_b USING ms_bs ON ms_b.k = ms_bs.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    assert(spark.table("ms_b").orderBy("k").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 1.0), (2L, 2.5), (3L, 3.0)))
    val bs = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("ms_b"))
      .bucketSpec
    assert(bs.nonEmpty && bs.get.numBuckets === 4
      && bs.get.bucketColumnNames === Seq("k"))
  }

  test("MERGE INTO preserves a partitioned target's layout") {
    dropAll("ms_p", "ms_ps")
    Seq((1L, 1.0, 202401), (2L, 2.0, 202402)).toDF("k", "v", "p_month")
      .write.format("parquet").partitionBy("p_month").saveAsTable("ms_p")
    Seq((2L, 2.5, 202402), (3L, 3.0, 202403)).toDF("k", "v", "p_month")
      .write.format("parquet").saveAsTable("ms_ps")

    spark.sql("""MERGE INTO ms_p USING ms_ps ON ms_p.k = ms_ps.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    assert(spark.table("ms_p").orderBy("k").as[(Long, Double, Int)]
      .collect().toSeq ===
      Seq((1L, 1.0, 202401), (2L, 2.5, 202402), (3L, 3.0, 202403)))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ms_p"))
    assert(meta.partitionColumnNames === Seq("p_month"))
    dropAll("ms_p", "ms_ps")
  }

  test("multi-WHEN: first-match-wins with DELETE and guarded UPDATE") {
    dropAll("ms_t", "ms_s")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((1L, "del", -1.0), (2L, "b2", 25.0), (3L, "c2", 30.5),
      (4L, "d", 40.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_s")

    // negative source value deletes; v-diff > 1 updates; else untouched
    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k = s.k
      |WHEN MATCHED AND s.v < 0 THEN DELETE
      |WHEN MATCHED AND abs(s.v - t.v) > 1.0 THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val got = spark.table("ms_t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq(
      (2L, "b2", 25.0),  // second WHEN fired
      (3L, "c", 30.0),   // no WHEN fired -> untouched
      (4L, "d", 40.0)))  // inserted; 1L deleted
  }

  test("NOT MATCHED BY SOURCE: full sync with delete and flagging") {
    dropAll("ms_t", "ms_s")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((1L, "a2", 11.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_s")

    // rows absent from the source: small ones deleted, big ones zeroed
    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED BY SOURCE AND t.v < 25 THEN DELETE
      |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0.0""".stripMargin)

    val got = spark.table("ms_t").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq(
      (1L, "a2", 11.0),  // matched update
      (3L, "c", 0.0)))   // not-matched-by-source update; 2L deleted
  }

  test("op-guarded MERGE: SQL text and mergeInto give identical tables") {
    dropAll("ms_t", "ms_s")
    Seq((Some(1L), "a", 10.0), (Some(2L), "b", 20.0), (None, "n", 0.0))
      .toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((Some(1L), "a2", 11.0, "INSERT"), (Some(2L), "b2", 21.0, "UPDATE"),
      (Some(3L), "c", 30.0, "INSERT"), (Some(4L), "x", 4.0, "UPDATE"),
      (None, "n2", 1.0, "UPDATE")).toDF("k", "name", "v", "operation")
      .write.format("parquet").saveAsTable("ms_s")

    val viaApi = MergeInto.mergeInto(spark.table("ms_t"),
      spark.table("ms_s"), Seq("k"), Seq("name", "v"), "operation")
      .as[(Option[Long], String, Double)].collect().toSet
    // the reference's MERGE (load_fact_sales_dw.py:390-418), null-safe
    spark.sql("""MERGE INTO ms_t t USING ms_s s ON t.k <=> s.k
      |WHEN MATCHED AND s.operation = 'UPDATE'
      |  THEN UPDATE SET name = s.name, v = s.v
      |WHEN NOT MATCHED AND s.operation = 'INSERT' THEN INSERT *"""
      .stripMargin)
    val viaSql = spark.table("ms_t")
      .as[(Option[Long], String, Double)].collect().toSet
    assert(viaSql === Set((Some(1L), "a", 10.0), (Some(2L), "b2", 21.0),
      (Some(3L), "c", 30.0), (None, "n2", 1.0)))
    assert(viaApi === viaSql)
  }

  test("unsupported shapes fall through to Spark's own error") {
    dropAll("ms_t", "ms_s")
    Seq((1L, "a", 10.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_t")
    Seq((1L, "a", 10.0)).toDF("k", "name", "v")
      .write.format("parquet").saveAsTable("ms_s")
    val e = intercept[Exception] {
      // subquery source is not rewritten -> Spark's own v2-only error
      spark.sql(
        """MERGE INTO ms_t t USING (SELECT * FROM ms_s) s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("MERGE INTO TABLE"))
  }
}
