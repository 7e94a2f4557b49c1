package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every entry point and the test suite build
  * from, so the queries, the correctness dump and the specs all run
  * under the same config. Callers add only what they tune on top
  * (shuffle width, AQE, local dirs) and set their own log level. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark
      // reads only as long (Tables.events converts it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      // the stores' bucket-partitioned dirs cross the 32-path default,
      // and each distributed-listing JOB costs ~140 ms against a local
      // FS the driver lists in microseconds; keep distributed listing
      // for genuinely wide object-store tables (the production case)
      // by raising, not disabling, the threshold
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.ui.enabled", "false")
}
