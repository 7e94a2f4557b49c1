package graft

import graft.sql.SqlSurface
import graft.sources.Jdbc
import org.apache.spark.sql.functions._

class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("SQL surface: views + native functions usable from spark.sql") {
    SqlSurface.registerTables(spark, sf)
    val agg = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(agg.count() === 3)
    val sigs = spark.sql(
      """SELECT doc_id, minhash_sig(text) AS mh, simhash_sig(text) AS sh
        |FROM documents LIMIT 5""".stripMargin).collect()
    assert(sigs.forall(_.getSeq[Long](1).size === 64))
    val cos = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM embeddings a JOIN embeddings b
        |ON a.vec_id = 0 AND b.vec_id = 0 LIMIT 1""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // SQL and DataFrame agree (same Catalyst plan space)
    val viaDf = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")).orderBy("l_returnflag").collect()
    assert(agg.collect().toSeq === viaDf.toSeq)
  }

  test("bucketed tables co-locate the join (no shuffle exchange)") {
    // tables land in the default warehouse (./spark-warehouse, gitignored)
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    // disable broadcast so the join strategy question is SMJ-vs-shuffle
    // (at real scale neither side broadcasts anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // the join itself needs NO exchange: bucket layout pre-partitions
    // both sides on the key (only the final groupBy aggregates shuffle).
    // Inspect only the AQE-final plan (the appended "Initial Plan"
    // section would double-count).
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchangesBelowJoin = finalPlan.linesIterator
      .dropWhile(l => !l.contains("SortMergeJoin"))
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(finalPlan.contains("SortMergeJoin"))
    assert(finalPlan.contains("Bucketed: true"))
    assert(exchangesBelowJoin === 0,
      s"expected bucket-co-located join, plan:\n$finalPlan")
    spark.sql("DROP TABLE li_bucketed")
    spark.sql("DROP TABLE o_bucketed")
  }

  test("JDBC option assembly (S1/S9 parameterization)") {
    val cfg = Jdbc.JdbcConfig("jdbc:oracle:thin:@host:1521/orcl", "u", "p",
      fetchSize = 5000, batchSize = 1000,
      partitionRead = Some(("sales_id", 1L, 1000000L, 16)))
    val r = Jdbc.readOptions(cfg, "SELECT * FROM fact_sales WHERE x > 0")
    assert(r("fetchsize") === "5000" && r("numPartitions") === "16"
      && r("partitionColumn") === "sales_id")
    val w = Jdbc.writeOptions(cfg, "fact_sales_dw")
    assert(w("batchsize") === "1000" && w("dbtable") === "fact_sales_dw")
  }
}
