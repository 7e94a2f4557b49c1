package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation, on static and streaming frames
  * alike. The reference's one-file-per-run consumption (SURVEY §2.9) is
  * [[graft.sources.Ledger]], and the loader's Poison/Retry file outcomes
  * are [[graft.pipelines.Pipelines.LoadOutcome]].
  */
object IncrementalLoad {

  /** Event-time windowed aggregation with watermark — the streaming-agg
    * shape the engine exposes for event feeds (not present in the
    * reference, which is batch-only; included as the Spark-native path
    * for the `events` table at scale). Works identically on a static
    * frame (batch = bounded stream). */
  def windowedEventCounts(events: DataFrame, tsCol: String,
      keyCol: String, window: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n"),
        col("sum_value"))
}
