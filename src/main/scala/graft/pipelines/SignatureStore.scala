package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted MinHash-LSH signature index with O(batch) incremental
  * appends — the near-dup leg of the incremental-corpus story
  * ([[CorpusStore]] = exact content hash, [[VectorStore]] = embedding
  * ANN, this = textual near-duplicate). Re-sharding 100 TB of shingle
  * sets per crawl batch is a non-starter; signatures and band hashes
  * are pure per-row expressions, so ingest signs ONLY the new batch
  * and near-dup queries join the batch's bands against the persisted
  * band table — never against raw text.
  *
  * Layout under `dir`:
  *   conf/              — one row (k, num_hashes, bands, n_buckets)
  *   sigs/b=<tag>/      — (id: long, sig: array<long>)
  *   bands/b=<tag>/bkt=<b>/ — (id: long, band: int, band_hash: long)
  *
  * `bkt = pmod(band_hash, n_buckets)` partitioning is the query-side
  * pruning lever: a batch's bands land in a bounded set of buckets, so
  * the candidate join scans only those bucket directories instead of
  * the whole band table. Batches (`b=<tag>`), replay, compaction and
  * visibility follow the one [[BatchLog]] protocol.
  *
  * The store returns CANDIDATES with the signature-agreement estimate
  * (exact dyadic arithmetic, deterministic). Callers wanting exact
  * Jaccard verification join candidates back to their corpus text and
  * apply [[Dedup.jaccard]] — the same two-stage shape
  * [[Dedup.minhashDupPairs]] uses internally, with the corpus store
  * standing in for the in-memory text frame. Batch ids must be
  * disjoint from store ids (the store does not namespace them).
  */
object SignatureStore {

  final case class Conf(k: Int, numHashes: Int, bands: Int,
    nBuckets: Int)

  /** Lay the store down and sign the seed batch. 32 bands of 2 hashes
    * (the defaults) put per-pair recall at jaccard 0.7 above
    * 1 − (1 − 0.49)² ³² ≈ 1 − 1e-9 — the same guarantee the d3 gate
    * leans on. */
  def create(spark: SparkSession, dir: String, seed: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 64,
      bands: Int = 32, nBuckets: Int = 64): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    log.reset(spark, dir)
    import spark.implicits._
    Seq((k, numHashes, bands, nBuckets))
      .toDF("k", "num_hashes", "bands", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/conf")
    // seed the metadata memo with the conf just written (identical to
    // what a read-back decodes — ints round-trip parquet exactly)
    StoreMeta.put(spark, s"$dir/conf", "conf",
      Conf(k, numHashes, bands, nBuckets))
    writeBatch(spark, dir, seed, idCol, textCol, loadConf(spark, dir),
      BatchLog.Seed)
  }

  /** Sign and persist one batch — work and bytes are O(batch); the
    * existing store is never read (beyond the [[BatchLog]] manifest
    * listing). Same-tag re-append REPLACES the batch (idempotent
    * retry/backfill) while the tag is live; a tag a committed
    * [[compact]] retired RAISES by name — backfill it under a fresh
    * tag (e.g. `crawl-07-refill`). */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, batchTag: String): Unit = {
    log.checkAppendTag(spark, dir, batchTag)
    writeBatch(spark, dir, batch, idCol, textCol, loadConf(spark, dir),
      batchTag)
  }

  /** Continuous ingestion — the [[VectorStore.ingestStream]] /
    * [[IndexStore.ingestStream]] contract on the near-dup store,
    * completing the streaming trio: drain a streaming (id, text)
    * frame, one [[append]] per micro-batch tagged by the checkpointed
    * batch id. foreachBatch replays a batch whose checkpoint commit
    * didn't land, and the replay overwrites the SAME
    * `b=stream-<id>` directory — exactly-once signatures with no
    * store-side ledger. Do not run [[compact]] concurrently (the
    * sibling stores' quiesce contract): a compaction committed
    * between a crash and its replay would have retired the replayed
    * tag, which [[append]] rejects LOUDLY instead of writing
    * invisible rows. Trigger.AvailableNow by default
    * (drain-and-stop). */
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

  /** Near-dup candidates of `batch` against everything persisted:
    * batch bands equi-join the store's band table (scanning ONLY the
    * batch's own bucket partitions — the bounded collect is ≤
    * n_buckets longs), candidates verified by signature agreement ≥
    * `minAgreement`. Returns (store_id, batch_id, agreement) with
    * agreement the exact matched-hash fraction.
    *
    * Recall is PIGEONHOLE-EXACT above 1 − bands/numHashes FOR pairs
    * whose shared band buckets survive the mega-bucket cap: a pair
    * disagreeing on d hashes can break at most d bands, so with
    * d < bands some band agrees fully and the pair is a candidate —
    * at the 64/32 defaults, every pair with agreement > 0.5 is
    * returned with no probabilistic misses; below that the usual
    * 1-(1-j^r)^b LSH curve applies. `maxBucket` drops store band
    * values shared by more docs than the cap (a boilerplate-driven
    * mega-bucket emits B × |batch bucket| candidate rows through ONE
    * join key — which is also one downstream partition, so a surviving
    * mega-bucket serializes the whole query; measured on the 5M-doc
    * stress store, a sub-cap bucket at a looser 100k default put ~1e8
    * rows in one task for 18+ min). A dropped bucket costs a pair one
    * of its `bands` chances — negligible for pairs whose similarity
    * lives in their own content — but a batch doc duplicating a
    * MASS-REPLICATED store family (> maxBucket near-identical copies)
    * can lose EVERY band, so that case RAISES by name rather than
    * silently returning no match; pass `skipFullyCapped = true` to
    * accept dropping such docs (appropriate when the store is
    * exact-deduped upstream, e.g. behind [[CorpusStore]]). */
  def nearDups(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String,
      minAgreement: Double = 0.5, maxBucket: Int = 5000,
      skipFullyCapped: Boolean = false)(
      implicit scope: graft.CacheScope): DataFrame = {
    val conf = loadConf(spark, dir)
    // batch signatures feed the band probe AND the agreement verify;
    // CacheScope lifetime (session-LRU default, released by a caller's
    // withScope bracket) like every operator-internal signature frame
    val bsigs = scope.cache(signed(batch, idCol, textCol, conf))
    val bbands = bucketed(Dedup.lshBands(bsigs, "id", "sig", conf.bands),
      conf.nBuckets)
    val buckets = bbands.select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val sbands0 = log.read(spark, dir, "bands")
      .filter(col("bkt").isin(buckets: _*))
    // shared cap machinery (Dedup.splitMegaBuckets) so the one-shot and
    // incremental paths cannot drift; the dropped-keys frame is small
    // and feeds both the prune and the fully-capped guard, so persist it
    val (sbands, dropped0) = Dedup.splitMegaBuckets(sbands0, maxBucket)
    val dropped = scope.cache(dropped0)
    val cands = sbands.select(col("band"), col("band_hash"),
        col("id").as("store_id"))
      .join(bbands.select(col("band"), col("band_hash"),
        col("id").as("batch_id")), Seq("band", "band_hash"))
      .select(col("store_id"), col("batch_id")).distinct()
    val ssigs = log.read(spark, dir, "sigs")
      .select(col("id").as("store_id"), col("sig").as("sig_s"))
    // static expansion over the stored hash count (codegen) instead of
    // an interpreted zip_with/filter HOF per candidate pair — same
    // integer match count, bit-identical agreement
    val agree = (0 until conf.numHashes).map { i =>
      when(element_at(col("sig_s"), i + 1) ===
        element_at(col("sig_b"), i + 1), 1).otherwise(0)
    }.reduce(_ + _).cast("double") / conf.numHashes
    val out = cands.join(ssigs, Seq("store_id"))
      .join(bsigs.select(col("id").as("batch_id"),
        col("sig").as("sig_b")), Seq("batch_id"))
      .withColumn("agreement", agree)
      .filter(col("agreement") >= minAgreement)
      .select(col("store_id"), col("batch_id"), col("agreement"))
    // loud path: a batch doc whose EVERY band bucket was capped has
    // zero store recall — silent-miss, the containmentPairs guard case.
    // Union attachment (not crossJoin(broadcast)): AQE empty-relation
    // propagation would skip a broadcast guard exactly when the output
    // is empty, which is the case that matters.
    val fullyCapped = bbands
      .join(broadcast(dropped), Seq("band", "band_hash"))
      .groupBy(col("id")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= conf.bands)
    val guard = fullyCapped
      .agg(count(lit(1)).as("__n"), min(col("id")).as("__id"))
      .select(when(col("__n") > 0 && lit(!skipFullyCapped),
        raise_error(concat(lit("SignatureStore.nearDups: "), col("__n"),
          lit(" batch doc(s) (e.g. id="), col("__id"),
          lit(s") lost EVERY band to the mega-bucket cap (maxBucket=" +
            s"$maxBucket) — the store holds a mass-replicated family " +
            "this doc duplicates; exact-dedup the store/batch first, " +
            "raise maxBucket, or set skipFullyCapped=true to accept " +
            "the silent miss"))))
        .otherwise(lit(1L)).as("__ok"))
    out.unionByName(guard.where(col("__ok") =!= 1L)
      .select(lit(null).cast("long").as("store_id"),
        lit(null).cast("long").as("batch_id"),
        lit(null).cast("double").as("agreement")))
  }

  /** Fold every live non-seed batch of both tables into one compact
    * batch ([[BatchLog]] protocol): an append-per-crawl store grows one
    * `sigs/b=<tag>` dir and up to `n_buckets` band files per batch, so
    * after B batches every [[nearDups]] probe lists and opens O(B)
    * files per bucket; compaction collapses that back to O(1). Rows
    * copy verbatim (signatures and band hashes are pure per-row
    * values): sigs coalesce to a bounded file count with no shuffle,
    * bands keep one file per bucket. The d9b gate hash-pins the
    * post-compaction [[nearDups]] against the same brute-force oracle
    * as the uncompacted store. */
  def compact(spark: SparkSession, dir: String,
      vacuumAfter: Boolean = false): Option[String] = {
    val n = spark.sessionState.conf.numShufflePartitions
    log.compact(spark, dir, vacuumAfter) {
      case ("sigs", sigs) => sigs.coalesce(n).write
      // explicit count: an unnumbered keyed repartition lets AQE
      // coalesce this tiny shuffle to ONE partition, and that single
      // task then writes every bucket dir sequentially (~1.2 s of
      // parquet-writer inits per batch, measured at sf0.1)
      case (_, bands) =>
        bands.repartition(n, col("bkt")).write.partitionBy("bkt")
    }
  }

  /** Delete the batch dirs committed compactions retired (and, with
    * `deleteOrphans`, uncommitted compact dirs) — see [[BatchLog]]. */
  def vacuum(spark: SparkSession, dir: String,
      deleteOrphans: Boolean = false): Unit =
    log.vacuum(spark, dir, deleteOrphans)

  // ---- internals --------------------------------------------------------

  private val log = new BatchLog("SignatureStore", Seq("sigs", "bands"))

  /** MinHash signing is the store's per-row hot kernel (k-shingle +
    * numHashes mins per doc); [[Tables.fanout]] spreads a
    * few-input-files batch across the cluster first — measured at
    * sf0.1, each batch signing was otherwise a single ~1 s 1-task job
    * (the whole write serialized on one core). No-op at production
    * batch sizes. */
  private def signed(df: DataFrame, idCol: String, textCol: String,
      conf: Conf): DataFrame =
    graft.Tables.fanout(df, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        graft.expressions.MinHash.minhashSig(col(textCol), conf.k,
          conf.numHashes).as("sig"))

  private def bucketed(bandsDf: DataFrame, nBuckets: Int): DataFrame =
    bandsDf.withColumn("bkt", pmod(col("band_hash"), lit(nBuckets.toLong)))

  /** One file per (bucket, batch) via repartition-before-partitionBy —
    * the same small-file-storm control as [[VectorStore]]. */
  private def writeBatch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String, conf: Conf,
      tag: String): Unit = {
    val sc = spark.sparkContext
    val sigs = signed(batch, idCol, textCol, conf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both writes are actions inside this function, so the cache can be
    // released before returning — no cross-call accumulation
    // (r16: an eager count() before the writes was tried and measured
    // NET-NEGATIVE — the sigs write already materializes the cache,
    // the bands job reads it, and the count only added 2 AQE jobs)
    try StoreMeta.oneJobWrite(spark) {
      sc.setJobDescription(s"sigstore write sigs b=$tag")
      sigs.write.mode("overwrite").parquet(log.path(dir, "sigs", tag))
      sc.setJobDescription(s"sigstore write bands b=$tag")
      bucketed(Dedup.lshBands(sigs, "id", "sig", conf.bands),
          conf.nBuckets)
        // explicit count — see compact(): AQE would coalesce to one
        // sequential 64-dir writer task otherwise
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(log.path(dir, "bands", tag))
    } finally {
      sc.setJobDescription(null)
      sigs.unpersist(blocking = false)
    }
  }

  /** Conf decode behind the [[StoreMeta]] fingerprint memo: the store
    * protocol re-reads conf at every create/append/query step, and each
    * uncached read is a full plan + one-task job of driver latency. */
  private def loadConf(spark: SparkSession, dir: String): Conf =
    StoreMeta.load(spark, s"$dir/conf", "conf") {
      val r = spark.read.parquet(s"$dir/conf").collect()(0)
      Conf(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    }
}
