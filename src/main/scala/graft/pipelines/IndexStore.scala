package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted inverted index with O(batch) incremental appends — the
  * RETRIEVAL leg of the incremental-corpus story ([[CorpusStore]] =
  * exact content hash, [[SignatureStore]] = textual near-dup,
  * [[VectorStore]] = embedding ANN, this = term search). Re-tokenizing
  * 100 TB of corpus per crawl batch to answer "which documents match
  * this query" is a non-starter; postings are pure per-row/groupBy
  * products of the NEW batch only, so ingest indexes O(batch) and BM25
  * queries join broadcast query terms against the persisted postings,
  * scanning ONLY the buckets the query's terms hash into — never raw
  * text, never foreign buckets.
  *
  * Layout under `dir`:
  *   conf/                    — one row (n_buckets)
  *   postings/b=<tag>/bkt=<b>/ — (term, id, tf, dl)
  *   stats/b=<tag>/           — one row (n_docs, dl_sum)
  *
  * `bkt = pmod(xxhash64(term), n_buckets)` is the pruning lever: all
  * postings of a term land in ONE bucket regardless of batch, so a
  * query's scan touches ≤ |query terms| bucket directories AND the
  * per-term document frequency read from that pruned scan is EXACT
  * (no separate df table to keep in sync). `dl` (doc token length) is
  * denormalized into the posting row — 8 bytes/posting buys back the
  * per-query join against a corpus-sized doc-length table. Per-batch
  * one-row `stats` keep n_docs/avgdl maintenance O(1) per batch and
  * query-side global stats O(#batches).
  *
  * Batches (`b=<tag>` in both tables), replay, compaction and
  * visibility follow the one [[BatchLog]] protocol, so postings and
  * stats switch generation in one manifest rename. Batch ids must be
  * disjoint from store ids (the store does not namespace them; a
  * re-indexed id in a DIFFERENT tag double-counts its df).
  *
  * Scoring is [[TextAnalysis.bm25ContribMicros]] — the same integer-
  * micros expression tree as the one-shot [[TextAnalysis.bm25TopK]],
  * so store-backed and from-scratch retrieval agree bit-for-bit (the
  * ir1 gate's DuckDB oracle replays the from-scratch math over the
  * union of all batches and hash-compares).
  */
object IndexStore {

  final case class Conf(nBuckets: Int)

  /** Lay the store down and index the seed batch. */
  def create(spark: SparkSession, dir: String, seed: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    log.reset(spark, dir)
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/conf")
    // seed the metadata memo with the conf just written
    StoreMeta.put(spark, s"$dir/conf", "conf", Conf(nBuckets))
    writeBatch(spark, dir, seed, idCol, textCol, nBuckets, BatchLog.Seed)
  }

  /** Tokenize and persist one batch — work and bytes are O(batch); the
    * existing store is never read. Same-tag re-append REPLACES the
    * batch (idempotent retry/backfill); a tag a committed [[compact]]
    * retired raises. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, batchTag: String): Unit = {
    log.checkAppendTag(spark, dir, batchTag)
    writeBatch(spark, dir, batch, idCol, textCol,
      loadConf(spark, dir).nBuckets, batchTag)
  }

  /** BM25 top-k over everything persisted. Query terms broadcast
    * (queries are few); the postings scan is pruned to the ≤ |terms|
    * buckets they hash into (the bounded collect is ≤ |terms| longs —
    * control plane, same discipline as [[SignatureStore.nearDups]]);
    * df comes exactly from that pruned scan; global n_docs/avgdl fold
    * the per-batch stats rows. Returns (qid, rank, id, score) with
    * ties (score DESC, id ASC) — identical output contract and math
    * as [[TextAnalysis.bm25TopK]] over the concatenated batches.
    *
    * `maxDfFrac` < 1.0 opts into stop-term pruning: query terms whose
    * df exceeds maxDfFrac × n_docs are EXCLUDED from scoring. On a web
    * corpus a query containing "the" otherwise drags a posting list of
    * nearly every document through the join for a near-zero idf
    * contribution — classic impact pruning. It CHANGES scores (each
    * skipped term forfeits its small contribution), so it is off by
    * default and the caller opts in per query. */
  def bm25TopK(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDfFrac: Double = 1.0)(
      implicit scope: graft.CacheScope): DataFrame = {
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val conf = loadConf(spark, dir)
    val qt = scope.cache(queries
      .select(col(qidCol),
        explode(array_distinct(TextAnalysis.tokens(col(qtextCol))))
          .as("term"))
      .where(col("term") =!= ""))
    val buckets = qt
      .select(pmod(xxhash64(col("term")), lit(conf.nBuckets.toLong))
        .as("bkt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // cacheEager: posts feeds the df aggregate AND the scoring join
    // subtrees of one action — an unmaterialized cache would be
    // recomputed per consumer (the bm25TopK tf lesson)
    val posts = scope.cacheEager(log.read(spark, dir, "postings")
      .filter(col("bkt").isin(buckets: _*))
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term")))
    // one posting row per (term, id) per batch and batch ids are
    // disjoint → count(*) per term IS the corpus-wide df
    val dfT = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val global = broadcast(log.read(spark, dir, "stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("dl_sum")).as("dl_sum"))
      .select(col("n_docs"),
        (col("dl_sum").cast("double") / col("n_docs")).as("avgdl")))
    val scored = qt.join(posts, "term").join(dfT, "term")
      .crossJoin(global)
      .filter(col("df").cast("double") <=
        lit(maxDfFrac) * col("n_docs").cast("double"))
      .withColumn("c_micros", TextAnalysis.bm25ContribMicros(col("tf"),
        col("df"), col("dl"), col("n_docs"), col("avgdl"), k1, b))
      .groupBy(col(qidCol), col("id"))
      .agg(sum(col("c_micros")).as("score_micros"))
    TextAnalysis.bm25Rank(scored, qidCol, "id", k)
  }

  /** Continuous ingestion: drain a streaming DataFrame of (id, text)
    * into the index, one [[append]] per micro-batch tagged by the
    * checkpointed batch id. foreachBatch replays a batch whose
    * checkpoint commit didn't land; the replay overwrites the SAME
    * b=stream-<id> directory, so postings and stats never double-count
    * — the same exactly-once contract as [[VectorStore.ingestStream]],
    * no store-side ledger needed. Trigger.AvailableNow by default
    * (drain-and-stop); pass a different trigger for an always-on
    * indexer. */
  def ingestStream(spark: SparkSession, dir: String, stream: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(spark, dir, batch, idCol, textCol, s"stream-$batchId")
      }
      .start()
    q.awaitTermination()
  }

  /** Fold every live non-seed batch into ONE compact batch
    * ([[BatchLog]] protocol) — the operational counterweight to
    * fine-grained streaming appends: a long-running ingester leaves
    * thousands of b=stream-* directories, and at some point the
    * per-directory listing cost (and the per-batch stats rows)
    * outweighs the append savings. Postings copy bucket-by-bucket (the
    * repartition(bkt) write parallelizes over buckets — no global
    * sort, no skew point); the stats rows fold into one, whose sums
    * equal theirs. One posting row per (term, id) before = one after,
    * so df and every query answer are unchanged ([[IndexStoreSpec]]
    * pins this). Returns the committed tag, or None when fewer than
    * two batches qualify. */
  def compact(spark: SparkSession, dir: String,
      vacuumAfter: Boolean = false): Option[String] =
    log.compact(spark, dir, vacuumAfter) {
      // explicit count: without it AQE coalesces the small shuffle to
      // one partition and a single task writes every bucket dir
      // sequentially (parquet-writer init per dir)
      case ("postings", postings) => postings
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("bkt"))
        .write.partitionBy("bkt")
      case (_, stats) => stats
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("dl_sum")).as("dl_sum"))
        .coalesce(1).write
    }

  // ---- internals --------------------------------------------------------

  private val log = new BatchLog("IndexStore", Seq("postings", "stats"))

  /** One file per (bucket, batch) via repartition-before-partitionBy —
    * the same small-file-storm control as the sibling stores. The tf
    * relation is persisted inside the call (it feeds postings AND the
    * stats row) and released before returning. */
  private def writeBatch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String, nBuckets: Int,
      tag: String): Unit = {
    // fanout: the tokenize+explode is the ingest's per-row hot kernel
    // and a few-files batch otherwise plans it into one scan task
    val tf = graft.Tables.fanout(batch, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try StoreMeta.oneJobWrite(spark) {
      val dl = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
      tf.join(dl, Seq("id"))
        .withColumn("bkt", pmod(xxhash64(col("term")),
          lit(nBuckets.toLong)))
        // explicit count — see compact(): pins parallel bucket writers
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(log.path(dir, "postings", tag))
      // n_docs counts EVERY batch doc (token-free docs too — they are
      // part of the collection BM25 normalizes over, matching the
      // one-shot path's docs.count); dl_sum only tokened docs
      batch.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(coalesce(sum(col("dl")), lit(0L))
          .as("dl_sum")))
        .coalesce(1).write.mode("overwrite")
        .parquet(log.path(dir, "stats", tag))
    } finally tf.unpersist(blocking = false)
  }

  /** Conf decode behind the [[StoreMeta]] fingerprint memo — see
    * [[SignatureStore.loadConf]]: one driver FS stat instead of a full
    * plan + one-task job per protocol step. */
  private def loadConf(spark: SparkSession, dir: String): Conf =
    StoreMeta.load(spark, s"$dir/conf", "conf") {
      Conf(spark.read.parquet(s"$dir/conf").collect()(0).getInt(0))
    }
}
