package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.Trigger
import org.apache.hadoop.fs.Path

import graft.ops.{IncrementalAgg, QuantileSketch}
import graft.ops.IncrementalAgg.Measure
import graft.pipelines.BatchLog

/** Streaming incremental view maintenance: a file stream of fact deltas
  * keeps an aggregate summary table current via
  * [[graft.ops.IncrementalAgg]] inside `foreachBatch` — each micro-batch
  * is summarized to the grain and folded into the stored summary with
  * one join, so the summary is always O(groups) and each batch costs
  * O(delta).
  *
  * Exactly-once across crashes needs the fold itself to be idempotent,
  * because foreachBatch replays a batch whose checkpoint commit didn't
  * land. The summary is therefore stored VERSIONED by batch id
  * (`summaryPath/v=<batchId>`):
  *  - a replayed batch sees its own version already present and skips —
  *    no double-count;
  *  - each fold reads the latest version strictly older than itself and
  *    commits its own through [[graft.pipelines.BatchLog.replaceDir]],
  *    so no crash window ever deletes the only copy;
  *  - superseded versions are pruned only after the new one is in place
  *    (a replay prunes what a crashed batch left).
  */
object StreamingSummary {

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong).toSeq.sorted
  }

  /** The current summary (latest version), or None before any batch. */
  def current(spark: SparkSession, summaryPath: String): Option[DataFrame] =
    versions(spark, summaryPath).lastOption.map(v =>
      spark.read.parquet(s"$summaryPath/v=$v"))

  /** Drain all pending parquet files under `inDir` (AvailableNow),
    * folding each batch into the versioned summary at `summaryPath`
    * with `fold(batch, previousSummary)`. Returns the final summary.
    * The versioning/replay/prune discipline lives here once; what a
    * "summary" is (one row per group, sketch rows, …) is the fold's. */
  def maintainVersioned(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String)(
      fold: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val existing = versions(spark, summaryPath)
        val older = existing.filter(_ < batchId)
        if (!existing.contains(batchId)) { // replay after a crash: skip
          val next = fold(batch, older.lastOption.map(v =>
            spark.read.parquet(s"$summaryPath/v=$v")))
          BatchLog.replaceDir(spark, s"$summaryPath/v=$batchId")(
            next.write.mode("overwrite").parquet(_))
        }
        // prune superseded versions only once this batch's is in place
        val fs = fsOf(spark, summaryPath)
        older.foreach(v => fs.delete(new Path(s"$summaryPath/v=$v"), true))
      }
      .start()
    q.awaitTermination()
    current(spark, summaryPath).getOrElse(
      throw new IllegalStateException(s"no summary under $summaryPath"))
  }

  /** Exact-measure maintenance: each batch is summarized to the grain
    * and folded into the stored summary with one join (O(delta)). */
  def maintainFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, keys: Seq[String],
      measures: Seq[Measure]): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = IncrementalAgg.summarize(batch, keys, measures)
        prev match {
          case Some(p) => IncrementalAgg.maintain(p, delta, keys, measures)
          case None => delta
        }
    }

  /** Drift-baseline maintenance: the stored state is the MERGEABLE
    * profile of [[graft.validate.Drift]] (moment sums + sketch
    * buckets, O(columns × buckets) regardless of history size). Each
    * batch folds in at O(delta); decode the returned state with
    * `Drift.profileOf` and judge an incoming batch against it with
    * `Drift.compare` — continuous feed-shape monitoring without ever
    * re-profiling history. */
  def maintainProfileFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      statePath: String, cols: Seq[String], m: Int = 7): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, statePath) {
      (batch, prev) =>
        val delta = graft.validate.Drift.mergeableProfile(batch, cols, m)
        prev.map(p => graft.validate.Drift.foldProfiles(p, delta))
          .getOrElse(delta)
    }

  /** Quantile maintenance: the stored summary is the deterministic
    * log-histogram sketch of [[graft.ops.QuantileSketch]] — rows of
    * (keys…, bkt, cnt). Each batch's sketch unions in and counts SUM,
    * so the maintained state is bit-identical to the one-pass sketch
    * over all data ever streamed (no decay, no randomness — bucketing
    * is integer arithmetic, no KLL coin flips) while each batch costs
    * O(delta + groups·buckets): "p99 per month" stays answerable at
    * 100 TB without re-touching history. Read quantiles off the
    * result with [[graft.ops.QuantileSketch.quantiles]]. */
  def maintainQuantilesFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, keys: Seq[String], valueCol: String,
      m: Int = 7): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = QuantileSketch.summarize(batch, keys, valueCol, m)
        prev match {
          case Some(p) => QuantileSketch.rollup(p.unionByName(delta), keys)
          case None => delta
        }
    }

  /** DSIR raw-distribution maintenance: the stored state is the
    * (b, ct) hashed-n-gram bucket count table of
    * [[graft.operators.Curation.dsirWeights]]' RAW side — ≤ `buckets`
    * rows regardless of history size. Each batch counts at O(delta) and
    * folds by pure SUM, so the maintained table is bit-identical to the
    * one-pass count of everything ever streamed; score any doc set
    * against it any time with
    * [[graft.operators.Curation.dsirWeightsFromCounts]] (target counts
    * typically from a small fixed curated corpus). */
  def maintainNgramCountsFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, textCol: String,
      buckets: Int = 4096): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.operators.Curation.ngramBucketCounts(
          batch, textCol, buckets)
        prev.map(p => graft.operators.Curation.foldBucketCounts(p, delta))
          .getOrElse(delta)
    }

  /** Bigram-LM maintenance: the stored state is the (prev, cur, c)
    * count table of [[graft.operators.TextAnalysis.bigramLm]] —
    * vocabulary²-bounded, independent of history size. Each batch
    * counts at O(delta) and folds by pure SUM, so the maintained model
    * is bit-identical to the one-shot count of everything ever
    * streamed; score any doc set against it any time with
    * [[graft.operators.TextAnalysis.bigramLogProb]]. */
  def maintainBigramLmFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, textCol: String): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.operators.TextAnalysis.bigramLm(batch, textCol)
        prev.map(p => graft.operators.TextAnalysis.foldBigramLm(p, delta))
          .getOrElse(delta)
    }

  /** Maintain a trigram LM over a streamed corpus — same contract as
    * [[maintainBigramLmFromFiles]] one order up: the (w1, w2, w3, c)
    * state is vocabulary³-bounded in theory, corpus-token-bounded in
    * practice, folds by pure SUM per batch (O(delta)), and the
    * maintained table scores bit-identically to a one-shot count via
    * [[graft.operators.TextAnalysis.trigramLogProb]] (every marginal
    * derives from it at scoring time, so nothing staled). */
  def maintainTrigramLmFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, textCol: String): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.operators.TextAnalysis.trigramLm(batch, textCol)
        prev.map(p => graft.operators.TextAnalysis.foldTrigramLm(p, delta))
          .getOrElse(delta)
    }

  /** [[maintainBigramLmFromFiles]] at the full CCNet order: the
    * hashed (n, h, c) 1..5-gram table of
    * [[graft.operators.TextAnalysis.hashedNgramLm]], folded by pure
    * (n, h) SUM per batch — O(delta) work, and the maintained state
    * scores (stupid backoff,
    * [[graft.operators.TextAnalysis.hashed5gramLogProb]])
    * bit-identically to a one-shot count of the union. */
  def maintainHashedLmFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, textCol: String): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.operators.TextAnalysis
          .hashedNgramLm(batch, textCol)
        prev.map(p => graft.operators.TextAnalysis.foldHashedLm(p, delta))
          .getOrElse(delta)
    }

  /** Maintain a Naive Bayes classifier over a streamed labeled corpus:
    * one [[graft.operators.TextAnalysis.nbModelToCounts]]-encoded state,
    * folded by pure (label, term) SUM per batch — O(delta) work, and
    * the maintained model scores bit-identically to a one-shot
    * retrain over the union (integer counts). Decode with
    * [[graft.operators.TextAnalysis.nbModelFromCounts]]. */
  def maintainNbFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, labelCol: String, textCol: String): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.operators.TextAnalysis.nbModelToCounts(
          graft.operators.TextAnalysis.nbTrain(batch, labelCol, textCol))
        prev.map(_.unionByName(delta)
            .groupBy(col("label"), col("term")).agg(sum(col("c")).as("c")))
          .getOrElse(delta)
    }

  /** Count-Min maintenance: the stored state is [[graft.ops.CountMin]]'s
    * (depth, bkt, cnt, width) cell table — bounded by depth×width
    * regardless of history size. Each batch sketches at O(delta) and
    * folds by pure SUM, so the maintained state is exactly the one-pass
    * sketch of everything ever streamed; probe it any time with
    * `CountMin.estimate` for overcount-only frequency reads. */
  def maintainCountMinFromFiles(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpoint: String,
      summaryPath: String, itemCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame =
    maintainVersioned(spark, inDir, schema, checkpoint, summaryPath) {
      (batch, prev) =>
        val delta = graft.ops.CountMin.sketch(batch, itemCol, depth, width)
        prev.map(p => graft.ops.CountMin.fold(p, delta)).getOrElse(delta)
    }
}
