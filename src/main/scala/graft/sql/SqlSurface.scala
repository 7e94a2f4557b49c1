package graft.sql

import org.apache.spark.sql.SparkSession
import graft.Tables

/** SQL entry point: the reference's users speak SQL (its compute is SQL
  * pushed to Oracle), so the engine exposes the same surface — register
  * the tables as temp views, then `spark.sql(...)` anything; the native
  * SQL functions come with every session from [[GraftExtensions]].
  * Catalyst plans SQL and DataFrame queries identically, so every
  * optimization note in README applies unchanged.
  */
object SqlSurface {

  /** Register every test table under its name (events through the
    * nanos-safe loader). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir)
               else Tables.load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
