package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.operators.Similarity.PqModel

/** Persisted IVF(-PQ) vector index with O(batch) incremental appends —
  * the index-maintenance leg of the 100 TB ANN story. Re-clustering a
  * 100 TB embedding corpus per daily crawl batch is a non-starter; the
  * standard production answer (FAISS-style IVF-PQ) freezes the coarse
  * quantizer and codebooks after initial training and only ASSIGNS new
  * vectors: cell + codes are pure per-row expressions against broadcast
  * literals, so an append touches the batch alone — zero shuffle, zero
  * read of the existing vector table, O(batch) bytes written.
  *
  * Layout under `dir`:
  *   centroids/  — (cell: long, centroid: array<double>), tiny
  *   codebooks/  — one row: (m, ksub, dsub, flat: array<double>), tiny
  *   format/     — one row: (int8: boolean), the vector storage format
  *   vectors/b=<batchTag>/cell=<c>/ —
  *                 (id: long, vec: array<double>, codes: array<int>),
  *                 or with int8 storage (id, q: array<tinyint>,
  *                 scale: double, codes) — ~7× fewer scan bytes,
  *                 dequantized on read.
  *                 `cell` partitioning: a query probing `nprobe` cells
  *                 prunes every other cell directory, so scan bytes
  *                 scale with nprobe/nCells, not corpus. Batches
  *                 (`b`), replay, compaction and visibility follow the
  *                 one [[BatchLog]] protocol — its overwrite-by-tag
  *                 replay is what makes [[ingestStream]] exactly-once.
  *
  * Frozen-quantizer consequence: query results over the store are
  * IDENTICAL to running [[Similarity.ivfTopK]] with the same centroids
  * over the full concatenated data (spec-pinned), no matter how many
  * appends produced it. Re-train (a fresh `create`) when drift between
  * the frozen centroids and new data degrades recall — a deliberate,
  * monitored operation, not something an ingest path does implicitly.
  */
object VectorStore {

  /** Train the coarse quantizer + PQ codebooks on the seed batch and
    * lay the store down. Seed should be a representative sample; both
    * trainers are bounded (k-means on nCells lowest-id init vectors,
    * PQ on a capped lowest-id sample).
    *
    * `int8 = true` stores each vector as its [[Similarity.int8Quantize]]
    * code (array<tinyint> + one double scale) instead of float64 —
    * ~7× fewer scan bytes per probed cell, the bandwidth lever that
    * dominates once nprobe cells are themselves terabytes. Every query
    * path dequantizes on read (asymmetric search: queries stay full
    * precision; centroids and PQ codebooks are tiny and stay float64),
    * so results are within quantization error of the float store and
    * remain engine-replayable (the anq2 gate's oracle recomputes codes,
    * reconstruction, and ranking end to end). The format is recorded in
    * `$dir/format` and appends follow it automatically. */
  def create(spark: SparkSession, dir: String, seed: DataFrame,
      idCol: String, vecCol: String, nCells: Int, m: Int, ksub: Int,
      ivfIters: Int = 3, pqIters: Int = 8, int8: Boolean = false): Unit = {
    val clean = normalize(seed, idCol, vecCol)
    log.reset(spark, dir)
    val idx = Similarity.ivfBuild(clean, "id", "vec", nCells, ivfIters)
    idx.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    val mdl = Similarity.pqTrain(clean, "id", "vec", m, ksub, pqIters)
    saveModel(spark, mdl, s"$dir/codebooks")
    saveFormat(spark, dir, int8)
    writeVectors(withCodes(idx.assigned, mdl), dir, BatchLog.Seed,
      int8 = int8)
  }

  /** Lay the store down with a DETERMINISTICALLY SEEDED coarse
    * quantizer instead of a k-means-trained one: the `nCells` seed
    * vectors with the smallest (md5(id), id) draw become the cell
    * centroids, in that order. Random data points are a valid coarse
    * quantizer (they are exactly k-means' standard init — k-means
    * iterations only sharpen cell balance, not correctness; every
    * query/append path is identical), and the hash-ordered choice
    * makes the ENTIRE index replayable by an independent engine:
    * centroid selection, cell assignment, probe ranking, and recall
    * monitoring are all pure functions of the data — which is what
    * lets the ann6 drift-monitor gate run against a full DuckDB
    * oracle instead of a rows-only check. The selection rides a
    * distributed (md5, id) top-nCells — no global sort, no driver
    * pass over the batch. PQ codebooks still train as in [[create]]
    * (they are k-means over subspaces and stay engine-private; paths
    * that need replayability don't read them). */
  def createSeeded(spark: SparkSession, dir: String, seed: DataFrame,
      idCol: String, vecCol: String, nCells: Int, m: Int, ksub: Int,
      pqIters: Int = 8, int8: Boolean = false): Unit = {
    require(nCells >= 1, s"createSeeded: nCells must be >= 1: $nCells")
    val clean = normalize(seed, idCol, vecCol)
    log.reset(spark, dir)
    val picked = clean
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nCells).collect()
    require(picked.nonEmpty, "createSeeded: empty seed batch")
    import scala.jdk.CollectionConverters._
    val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false)))
    val centroids = spark.createDataFrame(
      picked.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i.toLong, r.getSeq[Double](1))
      }.toSeq.asJava, centroidSchema)
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    // seed the metadata memo with the rows just written (exact values
    // — longs/doubles round-trip parquet bit-for-bit)
    StoreMeta.put(spark, s"$dir/centroids", "centroids",
      picked.zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[Double](1))
      }.toSeq)
    val mdl = Similarity.pqTrain(clean, "id", "vec", m, ksub, pqIters)
    saveModel(spark, mdl, s"$dir/codebooks")
    saveFormat(spark, dir, int8)
    val assigned = Similarity.assignCells(clean, "id", "vec",
      centroidsDF(spark, dir))
    writeVectors(withCodes(assigned, mdl), dir, BatchLog.Seed,
      int8 = int8)
  }

  /** Append a batch: assign cells + codes with the FROZEN quantizers —
    * per-row expressions against broadcast literals (the centroid
    * collect is O(nCells·dim)); the existing vector table is never
    * read. Work and bytes are O(batch).
    *
    * `batchTag` names the batch's partition directory: unique per
    * logical batch; writing the same tag again REPLACES that batch
    * (idempotent retry / backfill semantics); a tag a committed
    * [[compact]] retired raises. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, batchTag: String): Unit = {
    log.checkAppendTag(spark, dir, batchTag)
    val clean = normalize(batch, idCol, vecCol)
    val centroids = centroidsDF(spark, dir)
    val mdl = loadModel(spark, s"$dir/codebooks")
    val assigned = Similarity.assignCells(clean, "id", "vec", centroids)
    // appends follow the store's recorded format — a batch written in
    // the wrong precision would silently split the store's schema
    writeVectors(withCodes(assigned, mdl), dir, batchTag,
      int8 = loadFormat(spark, dir))
  }

  /** Continuous ingestion: drain a streaming DataFrame of (id, vec)
    * into the store, one frozen-quantizer [[append]] per micro-batch,
    * tagged by the checkpointed batch id. foreachBatch replays a batch
    * whose checkpoint commit didn't land; the replay overwrites the
    * SAME b=<id> directory, so the store never double-counts — this is
    * the exactly-once contract, and it needs no store-side ledger.
    * Uses Trigger.AvailableNow (drain-and-stop); pass a different
    * trigger for an always-on ingester.
    *
    * `tagPrefix` namespaces the batch tags (`<tagPrefix>-<batchId>`).
    * Batch ids restart at 0 under a FRESH checkpoint — if the store
    * was ever compacted, the old ids are retired names and [[append]]
    * rejects them loudly, so a re-based ingester picks a new prefix
    * (e.g. `"stream2"`) instead of silently losing data. */
  def ingestStream(spark: SparkSession, dir: String, stream: DataFrame,
      idCol: String, vecCol: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      tagPrefix: String = "stream"): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(spark, dir, batch, idCol, vecCol,
          s"$tagPrefix-$batchId")
      }
      .start()
    q.awaitTermination()
  }

  /** IVF query over the store: rank cells per query by centroid cosine,
    * read ONLY the top-`nprobe` cells' partitions (directory-level
    * pruning via the collected probe set — bounded by nQueries·nprobe),
    * exact cosine + bounded top-k. Identical to [[Similarity.ivfTopK]]
    * with the store's centroids over the full data. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int): DataFrame = {
    val qClean = finiteQueries(queries, qvecCol)
    val (cellRank, probed, _) = probePlan(spark, dir, qClean, qidCol,
      qvecCol, nprobe)
    val vecs = readVectors(spark, dir)
      .filter(col("cell").isin(probed: _*))
    val scored = vecs.join(broadcast(cellRank), Seq("cell"))
      .withColumn("cosine", Similarity.cosine(col("vec"), col(qvecCol)))
    Similarity.rankTopK(scored, qidCol, "id", k)
      .withColumnRenamed("id", "vec_id")
  }

  /** IVF-PQ query: same cell pruning, but stage 1 scores the stored
    * 8-ish-byte codes against per-query LUTs (an m-add scan instead of
    * a dim-multiply scan — the bandwidth answer when even nprobe cells
    * are big), keeps `candidates` per query, then re-ranks the pool by
    * exact cosine from the stored vectors. */
  def topKPq(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int,
      candidates: Int): DataFrame = {
    require(candidates >= k)
    import spark.implicits._
    val mdl = loadModel(spark, s"$dir/codebooks")
    val qClean = finiteQueries(queries, qvecCol)
    val (cellRank, probed, qRows) = probePlan(spark, dir, qClean, qidCol,
      qvecCol, nprobe)
    val vecs = readVectors(spark, dir)
      .filter(col("cell").isin(probed: _*))
    val luts = qRows.map { case (qid, qv) =>
      val lut = for { j <- 0 until mdl.m; c <- 0 until mdl.ksub }
        yield (0 until mdl.dsub)
          .map(t => qv(j * mdl.dsub + t) * mdl.codebooks(j)(c)(t)).sum
      (qid, lut)
    }.toDF(qidCol, "lut")
    val stage1 = vecs.join(broadcast(cellRank.select(col(qidCol),
        col("cell"))), Seq("cell"))
      .join(broadcast(luts), Seq(qidCol))
      .withColumn("score",
        aggregate(sequence(lit(0), lit(mdl.m - 1)), lit(0.0),
          (s, j) => s + element_at(col("lut"),
            (j * mdl.ksub + element_at(col("codes"), (j + 1).cast("int"))
              + 1).cast("int"))))
    val cands = stage1.groupBy(col(qidCol))
      .agg(graft.expressions.TopKByExpr.topkBy(
        col("score"), col("id"), candidates).as("__tk"))
      .select(col(qidCol), explode(col("__tk").getField("id")).as("id"))
    val reranked = cands
      .join(vecs.select(col("id"), col("vec")), Seq("id"))
      .join(broadcast(qClean.select(col(qidCol).cast("long").as(qidCol),
        col(qvecCol))), Seq(qidCol))
      .withColumn("cosine", Similarity.cosine(col("vec"), col(qvecCol)))
    Similarity.rankTopK(reranked, qidCol, "id", k)
      .withColumnRenamed("id", "vec_id")
  }

  /** Drift monitor: per-batch recall@k of the FROZEN quantizer against
    * within-batch exact brute force — the trigger signal for the
    * documented "re-train deliberately" operation (see the class doc).
    * A batch whose vectors have drifted away from the frozen centroids
    * lands in cells the probe ranking no longer finds, and its recall
    * row decays; the seed batch is the healthy reference point.
    *
    * `queries` should be a SMALL representative set — e.g. a
    * [[graft.operators.Curation.hashSample]] of recent traffic (few
    * hundred rows, deterministic); the monitor broadcasts it and brute
    * forces every (query, vector) pair ONCE over the store, so its cost
    * is one scan of the store per run — a scheduled job, not a per-query
    * tax. Recall is micro-averaged (Σ hits / Σ truth) from exact long
    * counts — deterministic, unlike a double mean over per-query
    * ratios whose accumulation order floats. */
  def recallAtK(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val qs = finiteQueries(queries, qvecCol)
      .select(col(qidCol).cast("long").as("qid"),
        col(qvecCol).cast("array<double>").as("qvec"))
    val vecs = readVectors(spark, dir)
      .select(col("b"), col("cell"), col("id"), col("vec"))
    def topkIds(scored: DataFrame): DataFrame = scored
      .groupBy(col("b"), col("qid"))
      .agg(graft.expressions.TopKByExpr.topkBy(
        col("cosine").cast("double"), col("id").cast("long"), k)
        .as("__tk"))
      .select(col("b"), col("qid"),
        explode(col("__tk").getField("id")).as("id"))
    // ground truth: exact within-batch top-k (no cell pruning)
    val exact = topkIds(vecs.crossJoin(broadcast(qs))
      .withColumn("cosine", Similarity.cosine(col("vec"), col("qvec"))))
    // frozen-quantizer path: the SAME probe ranking topK uses
    val (cellRank, probed, _) = probePlan(spark, dir, qs, "qid", "qvec",
      nprobe)
    val approx = topkIds(vecs.filter(col("cell").isin(probed: _*))
      .join(broadcast(cellRank), Seq("cell"))
      .withColumn("cosine", Similarity.cosine(col("vec"), col("qvec"))))
    exact.join(approx.withColumn("__hit", lit(1L)),
        Seq("b", "qid", "id"), "left")
      .groupBy(col("b"), col("qid"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_true")).cast("long").as("n_true"),
        sum(col("n_hit")).cast("long").as("n_hit"))
      .withColumn("recall_at_k",
        col("n_hit").cast("double") / col("n_true"))
      .withColumnRenamed("b", "batch")
  }

  // ---- internals --------------------------------------------------------

  /** Ingest contract: null vectors and vectors containing ANY
    * non-finite element (NaN/±Inf) never enter the store. A NaN
    * element makes every cosine against the vector NaN — which
    * silently poisons top-k ordering and the drift monitor — and
    * makes the int8 scale NaN (the whole code row degenerates). On a
    * 100 TB embedding ingest, malformed vectors are expected DATA;
    * the caller's data-quality signal is the id-set difference
    * between input and store (spec-pinned). */
  private def normalize(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(!exists(col("vec"),
        x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))

  private def withCodes(assigned: DataFrame, mdl: PqModel): DataFrame =
    assigned.select(col("id"), col("vec"),
      Similarity.pqCodes(col("vec"), mdl).cast("array<int>").as("codes"),
      col("cell"))

  /** Repartition on the partition column before partitionBy: without
    * it every task writes a file into every cell directory (tasks ×
    * cells small files per batch — the classic partitioned-write storm;
    * on object stores this is also tasks × cells PUTs). With it, a
    * cell's rows land in one task → one file per cell per batch. A
    * genuinely hot cell serializes into one task; cap file size with
    * spark.sql.files.maxRecordsPerFile rather than re-spraying.
    *
    * Each batch OVERWRITES its own b=<tag> directory — the idempotence
    * contract [[ingestStream]] relies on.
    *
    * int8 layout swaps the float64 `vec` column for the
    * [[Similarity.int8Quantize]] pair (q: array<tinyint>,
    * scale: double) — quantization runs ONCE per row at write time
    * (map-only; no join anywhere near it, so no CollapseProject
    * re-evaluation hazard). PQ `codes` ride along unchanged in either
    * format. */
  private def writeVectors(df: DataFrame, dir: String,
      batchTag: String, int8: Boolean): Unit = {
    val out =
      if (!int8) df
      else df
        // two-step so the quantize struct binds ONCE per row (two
        // getFields on the raw expression would evaluate it twice)
        .select(col("id"), Similarity.int8Quantize(col("vec")).as("__qz"),
          col("codes"), col("cell"))
        .select(col("id"), col("__qz.q").as("q"),
          col("__qz.scale").as("scale"), col("codes"), col("cell"))
    // explicit count: an unnumbered keyed repartition lets AQE
    // coalesce the batch to ONE partition, making a single task write
    // every cell dir sequentially; the count pins parallel writers
    // while keeping one file per (cell, batch)
    StoreMeta.oneJobWrite(out.sparkSession) {
      out.repartition(
          out.sparkSession.sessionState.conf.numShufflePartitions,
          col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(log.path(dir, "vectors", batchTag))
    }
  }

  /** Fold many small batch directories into one ([[BatchLog]]
    * protocol) — the answer to the small-files tax a fine-grained
    * [[ingestStream]] accrues (measured ~16 s/batch fixed cost at
    * 20k-vector micro-batches: 256 cell files per batch, 45 batches ⇒
    * 11.5k files the probe's directory listing must walk). Rows copy in
    * their STORED layout (float64 or int8 codes verbatim, never
    * re-quantized), so query results are bit-identical before and
    * after — the anq4 gate hash-pins that through the full DuckDB
    * replay.
    *
    * Interaction with [[recallAtK]]: compaction collapses batch
    * identity — the per-batch drift rows of the retired sources merge
    * into one compact row where a drifted minority averages out. Read
    * the monitor BEFORE compacting (or treat each compact dir as the
    * new reference era); don't compact away a drift signal you still
    * need. Returns the committed tag, or None when fewer than two
    * batches qualify. */
  def compact(spark: SparkSession, dir: String,
      vacuumAfter: Boolean = false): Option[String] =
    log.compact(spark, dir, vacuumAfter) { (_, vectors) =>
      // explicit count — see writeVectors(): pins parallel cell writers
      vectors.repartition(spark.sessionState.conf.numShufflePartitions,
        col("cell")).write.partitionBy("cell")
    }

  /** Delete the batch dirs committed compactions retired. Idempotent;
    * `deleteOrphans = true` also reclaims uncommitted compact dirs (a
    * crashed [[compact]] whose candidate set changed before its retry
    * — otherwise a full copy of the non-seed data leaks forever); it
    * races a compaction in flight, so use it only in a maintenance
    * window. See [[BatchLog]]. */
  def vacuum(spark: SparkSession, dir: String,
      deleteOrphans: Boolean = false): Unit =
    log.vacuum(spark, dir, deleteOrphans)

  private val log = new BatchLog("VectorStore", Seq("vectors"))

  /** Query-side twin of the ingest guard: a NaN/Inf element in a QUERY
    * vector makes every candidate cosine NaN — and NaN sorts as the
    * LARGEST double, so that query's top-k would be k arbitrary ids
    * with NaN scores. Malformed queries are filtered; the absent qids
    * in the output are the caller's countable signal (spec-pinned). */
  private def finiteQueries(queries: DataFrame,
      qvecCol: String): DataFrame =
    queries.filter(col(qvecCol).isNotNull &&
      !exists(col(qvecCol).cast("array<double>"),
        x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))

  /** Uniform read view of the vector table: (b, cell, id, vec, codes)
    * regardless of storage format. An int8 store reconstructs `vec` as
    * q·scale on read — parquet column pruning then reads (q, scale)
    * instead of the float64 array, which is where the ~7× scan-byte
    * cut lands (the dequantize itself is one fused multiply pass; note
    * that a projection above a join — topK's cosine — inlines it per
    * scored PAIR, an extra O(dim) per candidate that the bandwidth
    * saving dwarfs once probed cells stop fitting in page cache). */
  private def readVectors(spark: SparkSession, dir: String): DataFrame = {
    val raw = log.read(spark, dir, "vectors")
    val vec =
      if (!raw.columns.contains("q")) col("vec")
      else transform(col("q"), x => x.cast("double") * col("scale"))
    raw.select(col("b"), col("cell"), col("id"), vec.as("vec"),
      col("codes"))
  }

  /** The store's vector storage format, recorded at create time so
    * appends can't split the schema. Missing marker = float64 (stores
    * created before the int8 option existed). */
  private def saveFormat(spark: SparkSession, dir: String,
      int8: Boolean): Unit = {
    import spark.implicits._
    Seq(Tuple1(int8)).toDF("int8")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/format")
    StoreMeta.put(spark, s"$dir/format", "format", int8)
  }

  private def loadFormat(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/format")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && StoreMeta.load(spark, s"$dir/format", "format") {
      spark.read.parquet(s"$dir/format").collect()(0).getBoolean(0)
    }
  }

  /** Centroid rows behind the [[StoreMeta]] fingerprint memo: written
    * once at create time and immutable thereafter, but re-read by
    * every append/query/monitor protocol step — each uncached read was
    * a full plan + scan job of driver latency. */
  private def loadCentroids(spark: SparkSession,
      dir: String): Seq[(Long, Seq[Double])] =
    StoreMeta.load(spark, s"$dir/centroids", "centroids") {
      spark.read.parquet(s"$dir/centroids")
        .select(col("cell").cast("long"), col("centroid"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }

  /** The centroid table as a LOCAL relation (driver rows, no scan job,
    * broadcast builds directly from memory) — values identical to the
    * parquet read it replaces. */
  private def centroidsDF(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(loadCentroids(spark, dir)
      .map { case (c, v) => org.apache.spark.sql.Row(c, v) }
      .asJava, schema)
  }

  /** Per-query probe ranking + the collected probe-cell union (bounded
    * by nQueries·nprobe — queries are few by contract).
    *
    * The ranking window runs ONCE and is collected ONCE: the returned
    * frame is a local relation of the collected rows (downstream
    * broadcasts build straight from driver memory instead of
    * re-running the window per consumer), `probed` derives from the
    * same rows, and the third element hands each query's vector to
    * callers that need driver-side LUTs — one job where the previous
    * shape paid three (window + distinct-collect + query re-collect). */
  private def probePlan(spark: SparkSession, dir: String,
      queries: DataFrame, qidCol: String, qvecCol: String, nprobe: Int)
      : (DataFrame, Seq[Long], Seq[(Long, Seq[Double])]) = {
    val byQuery =
      org.apache.spark.sql.expressions.Window.partitionBy(col(qidCol))
    val cellRankPlan = queries
      .select(col(qidCol).cast("long").as(qidCol), col(qvecCol))
      .crossJoin(broadcast(centroidsDF(spark, dir)))
      .withColumn("crank", row_number().over(byQuery
        .orderBy(Similarity.cosine(col(qvecCol), col("centroid")).desc,
          col("cell"))))
      // a qid carrying two different vectors has no single answer; the
      // flag rides the same window, before the probe cut drops rows
      .withColumn("__mixed",
        min(col(qvecCol)).over(byQuery) =!= max(col(qvecCol)).over(byQuery))
      .filter(col("crank") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("cell"), col("__mixed"))
    val rows = cellRankPlan.collect().toIndexedSeq
    val mixed = rows.filter(_.getBoolean(3)).map(_.getLong(0)).distinct
    require(mixed.isEmpty,
      s"VectorStore: qid(s) ${mixed.sorted.mkString(", ")} map to more " +
        s"than one query vector — '$qidCol' must identify one query")
    import scala.jdk.CollectionConverters._
    val cellRank = spark.createDataFrame(rows.asJava, cellRankPlan.schema)
      .drop("__mixed")
    val probed = rows.map(_.getLong(2)).distinct.toSeq
    // one (qid → vector) row per query, widened to double exactly as
    // the cast the previous per-caller collect applied (float → double
    // widening is value-exact)
    val qVecs = rows.map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()): Seq[Double]))
      .distinctBy(_._1).toSeq
    (cellRank, probed, qVecs)
  }

  private def saveModel(spark: SparkSession, mdl: PqModel,
      path: String): Unit = {
    import spark.implicits._
    Seq((mdl.m, mdl.ksub, mdl.dsub, mdl.flat))
      .toDF("m", "ksub", "dsub", "flat")
      .coalesce(1).write.mode("overwrite").parquet(path)
    StoreMeta.put(spark, path, "pqmodel", mdl)
  }

  private def loadModel(spark: SparkSession, path: String): PqModel =
    StoreMeta.load(spark, path, "pqmodel") {
      val r = spark.read.parquet(path).collect()(0)
      val (m, ksub, dsub) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val flat = r.getSeq[Double](3)
      val codebooks = Array.tabulate(m) { j =>
        Array.tabulate(ksub) { c =>
          flat.slice((j * ksub + c) * dsub, (j * ksub + c + 1) * dsub)
            .toArray
        }
      }
      PqModel(m, ksub, dsub, codebooks)
    }
}
