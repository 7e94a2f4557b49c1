package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dedup

/** Incremental corpus ingestion with O(delta) exact dedup — the 100 TB
  * answer to "a new crawl batch arrives daily; drop everything already
  * in the corpus".
  *
  * The naive form anti-joins each batch against the WHOLE corpus, which
  * shuffles the corpus on content_hash every day — at 100 TB the
  * target-side exchange dwarfs the batch. Storing the corpus as a table
  * bucketed by `content_hash` makes the corpus scan report its hash
  * partitioning, so the dedup anti-join co-locates: only the day's batch
  * is exchanged, the corpus is read in place, and the append lands
  * bucket-aligned. Total bytes moved per ingest is O(batch), not
  * O(corpus).
  *
  * Bucket count: 32 locally; size for ~100-500 MB per bucket at target
  * volume (100 TB → ~8192).
  */
object CorpusStore {

  val DefaultBuckets = 32

  def schema(idCol: String, textCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField(textCol, StringType),
    StructField("content_hash", StringType)))

  /** Create the empty bucketed corpus table if absent. */
  def ensure(spark: SparkSession, table: String, idCol: String,
      textCol: String, nBuckets: Int = DefaultBuckets): Unit =
    if (!spark.catalog.tableExists(table)) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema(idCol, textCol))
      empty.write.format("parquet")
        .bucketBy(nBuckets, "content_hash").sortBy("content_hash")
        .saveAsTable(table)
    }

  /** Ingest a batch: normalize-hash, dedup within the batch (keep lowest
    * id per hash), drop everything whose content already exists in the
    * corpus, append the survivors bucket-aligned. Returns
    * (appended_rows, batch_rows). */
  def ingest(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String,
      nBuckets: Int = DefaultBuckets): (Long, Long) = {
    val nBatch = batch.count()
    // null text is content-free and has no content address — rejected
    // here explicitly (it would otherwise vanish in the null-unsafe
    // join below with no trace)
    val hashed = batch.select(col(idCol).cast("long").as(idCol),
        col(textCol).as(textCol))
      .filter(col(textCol).isNotNull)
      .withColumn("content_hash", Dedup.contentHash(col(textCol)))
      // a batch can hold the SAME (id, text) row twice (retried crawl
      // record); collapse exact row dups or the min-id join-back below
      // would keep both copies and break the one-row-per-hash invariant
      .dropDuplicates("content_hash", idCol)
    // within-batch winners: lowest id per hash (deterministic)
    val winners = hashed.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .join(hashed, Seq("content_hash", idCol))
    // corpus side is bucketed on content_hash: this anti-join reads the
    // corpus IN PLACE (no corpus exchange); only the batch shuffles
    val fresh = winners.join(
      spark.table(table).select("content_hash"),
      Seq("content_hash"), "left_anti")
      .select(col(idCol), col(textCol), col("content_hash"))
      .persist()
    val nAdded = fresh.count()
    fresh.write.format("parquet").mode("append")
      .bucketBy(nBuckets, "content_hash").sortBy("content_hash")
      .saveAsTable(table)
    fresh.unpersist()
    (nAdded, nBatch)
  }
}
