package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.pipelines.VectorStore

/** Incremental IVF-PQ store: frozen-quantizer appends must be pure
  * (same assignment an offline run would produce) and queries over the
  * store must equal the in-memory index over the full concatenated
  * data — the invariant that makes O(batch) maintenance sound. */
class VectorStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").cast("array<double>")
      .as("embedding"))

  test("append assigns with frozen quantizers; queries match ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("vstore").toString
    val batch1 = emb.filter(col("vec_id") % 2 === 0)
    val batch2 = emb.filter(col("vec_id") % 2 === 1)
    VectorStore.create(spark, dir, batch1, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 16)
    VectorStore.append(spark, dir, batch2, "vec_id", "embedding", "b1")

    // every non-null vector from both batches landed exactly once
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() === emb.filter(col("embedding").isNotNull).count())
    assert(stored.select("id").distinct().count() === stored.count())

    // frozen-quantizer purity: batch2's stored cells equal a fresh
    // assignment under the persisted centroids (pure per-row function)
    val centroids = spark.read.parquet(s"$dir/centroids")
    val fresh = Similarity.assignCells(
      batch2.filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").as("vec")),
      "id", "vec", centroids)
      .select(col("id"), col("cell"))
    val mismatches = stored.select(col("id"),
        col("cell").cast("long").as("cell"))
      .join(fresh.withColumnRenamed("cell", "cell2"), Seq("id"))
      .filter(col("cell") =!= col("cell2")).count()
    assert(mismatches === 0L)

    // store query ≡ in-memory ivfTopK with the SAME centroids over the
    // full data, regardless of the create/append split
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val full = Similarity.assignCells(
      emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")),
      "vec_id", "embedding", centroids)
    val want = Similarity.ivfTopK(
      Similarity.IvfIndex(full, centroids), "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nprobe = 3)
      .select("qid", "rank", "vec_id", "cosine")
      .collect().toSet
    val got = VectorStore.topK(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 3)
      .select("qid", "rank", "vec_id", "cosine")
      .collect().toSet
    assert(got === want)

    // IVF-PQ two-stage with a pool covering the probed cells re-ranks
    // to the same exact answer
    val gotPq = VectorStore.topKPq(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 3, candidates = 1000)
      .select("qid", "rank", "vec_id", "cosine")
      .collect().toSet
    assert(gotPq === want)
  }

  test("createSeeded: centroids are the nCells smallest (md5(id), id) " +
      "seed vectors in draw order; store behaves like create's") {
    val dir = java.nio.file.Files.createTempDirectory("vstore_s").toString
    val batch1 = emb.filter(col("vec_id") % 2 === 0)
    val batch2 = emb.filter(col("vec_id") % 2 === 1)
    VectorStore.createSeeded(spark, dir, batch1, "vec_id", "embedding",
      nCells = 4, m = 8, ksub = 16, pqIters = 2)
    VectorStore.append(spark, dir, batch2, "vec_id", "embedding", "b1")
    // the centroid table IS the md5-ordered head of the seed batch
    val wantIds = batch1.filter(col("embedding").isNotNull)
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(4).select(col("vec_id").cast("long")).collect()
      .map(_.getLong(0)).toSeq
    val wantVecs = emb.filter(col("vec_id").isin(wantIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(cents.map(_._1).toSeq === (0L until 4L))
    cents.zipWithIndex.foreach { case ((_, cv), i) =>
      assert(cv === wantVecs(wantIds(i)))
    }
    // every vector landed once; full-probe recall over the seeded
    // quantizer is exact (the create-path invariant carries over)
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() ===
      emb.filter(col("embedding").isNotNull).count())
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val r = VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 4).collect()
    assert(r.nonEmpty)
    r.foreach(row =>
      assert(row.getAs[Double]("recall_at_k") === 1.0,
        s"full probe must be exact: $row"))
  }

  test("int8 store: layout drops the float64 vec; appends follow the " +
      "recorded format; queries ≡ ivfTopK over the dequantized corpus") {
    val dir = java.nio.file.Files.createTempDirectory("vstore_i8").toString
    val batch1 = emb.filter(col("vec_id") % 2 === 0)
    val batch2 = emb.filter(col("vec_id") % 2 === 1)
    VectorStore.create(spark, dir, batch1, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 16, ivfIters = 2, pqIters = 2,
      int8 = true)
    VectorStore.append(spark, dir, batch2, "vec_id", "embedding", "b1")
    // the physical layout is codes, not floats — for BOTH batches (the
    // append read the recorded format, no parameter at its call site)
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.columns.contains("q") && stored.columns.contains("scale")
      && !stored.columns.contains("vec"))
    assert(stored.count() === emb.filter(col("embedding").isNotNull).count())
    assert(stored.filter(col("b") === "b1").count() > 0)
    // store query ≡ in-memory ivfTopK with the same centroids over the
    // DEQUANTIZED corpus — the float-store invariant, one quantization
    // round trip in
    val centroids = spark.read.parquet(s"$dir/centroids")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // cells assign on the FULL-precision input at write time (the
    // FAISS convention); only the stored/scored payload is quantized —
    // so the reference index carries full-precision cells over
    // dequantized vectors
    val cells = Similarity.assignCells(
      emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
      "vec_id", "embedding", centroids)
      .select(col("vec_id"), col("cell"))
    val full = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("vec_id"),
        Similarity.int8Dequantize(
          Similarity.int8Quantize(col("embedding"))).as("embedding"))
      .join(cells, "vec_id")
    val want = Similarity.ivfTopK(
      Similarity.IvfIndex(full, centroids), "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nprobe = 3)
      .select("qid", "rank", "vec_id", "cosine")
      .collect().toSet
    val got = VectorStore.topK(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 3)
      .select("qid", "rank", "vec_id", "cosine")
      .collect().toSet
    assert(got === want)
    // the drift monitor runs over the int8 store too (recall is
    // internally consistent: same dequantized vectors on both sides)
    val r = VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 8).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getAs[Double]("recall_at_k") === 1.0,
      s"full probe must be exact on the dequantized corpus: $row"))
  }

  test("int8 store's probe scan selects materially fewer bytes than " +
      "the float64 store's — the bandwidth claim, pinned in CI") {
    val f64Dir = java.nio.file.Files.createTempDirectory("vsb_f").toString
    val i8Dir = java.nio.file.Files.createTempDirectory("vsb_i").toString
    val clean = emb.filter(col("embedding").isNotNull)
    VectorStore.create(spark, f64Dir, clean, "vec_id", "embedding",
      nCells = 4, m = 4, ksub = 8, ivfIters = 2, pqIters = 2)
    VectorStore.create(spark, i8Dir, clean, "vec_id", "embedding",
      nCells = 4, m = 4, ksub = 8, ivfIters = 2, pqIters = 2,
      int8 = true)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def scanBytes(dir: String): Long = {
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try VectorStore.topK(spark, dir, queries, "qid", "qv",
          k = 3, nprobe = 4)
        .queryExecution.executedPlan.collectWithSubqueries {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains("/vectors")) =>
            s.selectedPartitions.totalFileSize
        }.sum
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    val (f64, i8) = (scanBytes(f64Dir), scanBytes(i8Dir))
    assert(f64 > 0 && i8 > 0)
    // 6.35× measured at 1M vectors; at spec scale parquet per-file
    // overhead dampens the ratio, so pin a conservative floor — a
    // regression that stores float64 anyway (or re-widens q) trips it
    assert(f64.toDouble / i8 > 2.0,
      s"int8 probe scan not materially smaller: f64=$f64 i8=$i8")
  }

  test("non-finite vectors (NaN/Inf elements) never enter the store — " +
      "they would poison every cosine and the int8 scale") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vstore_nf").toString
    val clean = emb.filter(col("embedding").isNotNull)
    val poisoned = clean.limit(3).select(
      (col("vec_id") + 50000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0 && col("vec_id") % 3 === 0, lit(Double.NaN))
          .when(i === 0 && col("vec_id") % 3 === 1,
            lit(Double.PositiveInfinity))
          .when(i === 0, lit(Double.NegativeInfinity))
          .otherwise(x)).as("embedding"))
    VectorStore.create(spark, dir, clean.unionByName(poisoned),
      "vec_id", "embedding", nCells = 4, m = 4, ksub = 8,
      ivfIters = 2, pqIters = 2)
    val stored = spark.read.parquet(s"$dir/vectors")
    // exactly the clean rows landed; the id-set difference IS the
    // caller's data-quality signal
    assert(stored.count() === clean.count())
    assert(stored.filter(col("id") >= 50000L).count() === 0L)
    // appends hold the same contract
    VectorStore.append(spark, dir, poisoned, "vec_id", "embedding", "b1")
    assert(spark.read.parquet(s"$dir/vectors").count() === clean.count())
    // and queries over the store stay NaN-free — including when the
    // QUERY side is poisoned: a NaN query element makes every cosine
    // NaN and NaN sorts LARGEST, so an unguarded query returns k
    // arbitrary ids; the guard filters it and the absent qid is the
    // caller's countable signal
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .unionByName(emb.filter(col("vec_id") === 2)
        .select((col("vec_id") + 70000L).as("qid"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(Double.NaN)).otherwise(x)).as("qv")))
    val res = VectorStore.topK(spark, dir, queries, "qid", "qv",
      k = 3, nprobe = 4).collect()
    assert(res.nonEmpty)
    res.foreach(r => assert(!r.getAs[Double]("cosine").isNaN))
    assert(!res.exists(_.getAs[Long]("qid") >= 70000L),
      "poisoned query must be filtered, not ranked")
    assert(VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
        k = 3, nprobe = 4)
      .collect().forall(!_.getAs[Double]("recall_at_k").isNaN))
  }

  test("topK's vector scan is partition-pruned to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("vstorep").toString
    VectorStore.create(spark, dir, emb, "vec_id", "embedding",
      nCells = 8, m = 4, ksub = 8, ivfIters = 2, pqIters = 2)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try VectorStore.topK(spark, dir, queries, "qid", "qv",
        k = 3, nprobe = 2).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    val vecScans = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.output.exists(_.name == "vec") => s }
    assert(vecScans.nonEmpty)
    vecScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "vectors scan lost its cell partition filter — the query " +
          "would read the whole store instead of nprobe cells")
      // nprobe=2 over 2 queries probes at most 4 of the 8 cells
      assert(s.selectedPartitions.partitionCount <= 4,
        s"scan reads ${s.selectedPartitions.partitionCount} cell " +
          "partitions")
    }
  }

  test("streaming ingest drains files; replayed batches don't double-count") {
    val root = java.nio.file.Files.createTempDirectory("vstream").toString
    val dir = s"$root/store"
    val in = s"$root/in"
    VectorStore.create(spark, dir, emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nCells = 4, m = 4, ksub = 8,
      ivfIters = 2, pqIters = 2)
    // two pending files of odd-id vectors
    val odd = emb.filter(col("vec_id") % 2 === 1)
    odd.filter(col("vec_id") % 4 === 1).coalesce(1)
      .write.parquet(s"$in/f1")
    odd.filter(col("vec_id") % 4 === 3).coalesce(1)
      .write.parquet(s"$in/f2")
    val schema = odd.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    VectorStore.ingestStream(spark, dir, stream, "vec_id", "embedding",
      s"$root/ckpt")
    val total = emb.filter(col("embedding").isNotNull).count()
    assert(spark.read.parquet(s"$dir/vectors").count() === total)
    assert(spark.read.parquet(s"$dir/vectors")
      .select("id").distinct().count() === total)
    // replay semantics: re-writing a batch tag REPLACES, never appends
    // (what a crashed-and-replayed foreachBatch does)
    val extra = odd.limit(7)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    VectorStore.append(spark, dir, extra, "vec_id", "embedding", "rb")
    assert(spark.read.parquet(s"$dir/vectors").count() === total + 7)
    VectorStore.append(spark, dir, extra, "vec_id", "embedding", "rb")
    assert(spark.read.parquet(s"$dir/vectors").count() === total + 7)
    // and the queries still see one consistent corpus
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val res = VectorStore.topK(spark, dir, queries, "qid", "qv",
      k = 5, nprobe = 4)
    assert(res.count() === queries.count() * 5)
  }

  test("compaction: manifest-committed, crash-safe, lossless, " +
      "idempotent; vacuum reclaims; int8 layout copies bit-exact") {
    val dir = java.nio.file.Files.createTempDirectory("vcompact").toString
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    VectorStore.create(spark, dir, emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nCells = 4, m = 4, ksub = 8,
      ivfIters = 2, pqIters = 2, int8 = true)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    VectorStore.append(spark, dir, odd.filter(col("vec_id") % 4 === 1),
      "vec_id", "embedding", "b1")
    VectorStore.append(spark, dir, odd.filter(col("vec_id") % 4 === 3),
      "vec_id", "embedding", "b2")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def answer() = VectorStore.topK(spark, dir, queries, "qid", "qv",
        k = 5, nprobe = 4)
      .orderBy("qid", "rank").collect().toSeq
    val before = answer()
    val total = spark.read.parquet(s"$dir/vectors").count()
    // CRASH SIM A: an orphan compact dir (data landed, manifest
    // didn't) is invisible — readers neither double-count nor see it
    val orphanSrc = s"$dir/vectors/b=b1"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(orphanSrc), fs,
      new org.apache.hadoop.fs.Path(s"$dir/vectors/b=compact-orphan"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(answer() === before, "orphan compact dir leaked into reads")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=compact-orphan"), true)
    // commit: b1+b2 fold into one committed dir; sources retire
    // LOGICALLY (still on disk) — answers and counts unchanged
    val tag = VectorStore.compact(spark, dir)
    assert(tag.exists(_.startsWith("compact-")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=b1")), "compact must not delete sources")
    assert(answer() === before, "compacted store answers differently")
    // the compact digest is a pure function of the sources: a retry
    // (the crash-recovery path) lands on the SAME tag — idempotent
    // wait: sources are now retired, so a re-run is a no-op instead
    assert(VectorStore.compact(spark, dir).isEmpty,
      "re-compacting retired sources must be a no-op")
    // vacuum reclaims the retired dirs; nothing else moves
    VectorStore.vacuum(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=b1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=b2")))
    assert(answer() === before)
    // int8 layout copied VERBATIM: the compact dir stores (q, scale),
    // never a float64 vec (re-quantizing a dequantized row would move
    // near-ties)
    val compactCols = spark.read
      .parquet(s"$dir/vectors/b=${tag.get}").columns.toSet
    assert(compactCols.contains("q") && compactCols.contains("scale")
      && !compactCols.contains("vec"), s"compact layout: $compactCols")
    // appends keep working after compaction, and the next compaction
    // FOLDS the live compact batch with the new one: at most one
    // compact dir stays live however many compactions run
    val extra = odd.limit(5)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    VectorStore.append(spark, dir, extra, "vec_id", "embedding", "b3")
    val tag2 = VectorStore.compact(spark, dir, vacuumAfter = true)
    assert(tag2.exists(_.startsWith("compact-")) && tag2 != tag)
    val compactDirs = new java.io.File(s"$dir/vectors").listFiles()
      .map(_.getName).filter(_.startsWith("b=compact-")).toSeq
    assert(compactDirs === Seq(s"b=${tag2.get}"),
      s"live compact dirs must fold into one: $compactDirs")
    assert(spark.read.parquet(s"$dir/vectors")
      .select("id").distinct().count() === total + 5)
    // a RETIRED tag is a permanently-invisible name (filtered from
    // reads, reclaimed by vacuum) — appending under it must fail
    // loudly, not lose data silently (the fresh-checkpoint
    // ingestStream restart scenario)
    val retried = intercept[IllegalArgumentException] {
      VectorStore.append(spark, dir, extra, "vec_id", "embedding", "b1")
    }
    assert(retried.getMessage.contains("retired"))
    intercept[IllegalArgumentException] {
      VectorStore.append(spark, dir, extra, "vec_id", "embedding",
        "compact-abc")
    }
    // an orphan whose retry never landed (candidate set changed)
    // reclaims only under the explicit deleteOrphans flag
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$dir/vectors/b=${tag2.get}"), fs,
      new org.apache.hadoop.fs.Path(s"$dir/vectors/b=compact-stale"),
      false, spark.sparkContext.hadoopConfiguration)
    VectorStore.vacuum(spark, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=compact-stale")),
      "plain vacuum must not race an in-flight compaction")
    VectorStore.vacuum(spark, dir, deleteOrphans = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/vectors/b=compact-stale")))
    // orphan reclaim touched nothing live (b3's rows, now in the live
    // compact dir, included)
    assert(spark.read.parquet(s"$dir/vectors")
      .select("id").distinct().count() === total + 5)
  }

  test("random corpus: full-probe store query ≡ brute force; full-probe " +
      "recall ≡ 1.0 — centroid-independent invariants") {
    import spark.implicits._
    // seeded random vectors: the invariant must hold for ANY data and
    // ANY trained centroids, not just the planted-copy fixtures
    val r = new scala.util.Random(7)
    val nCells = 4
    val corpus = (1L to 120L).map(i => (i, Seq.fill(8)(r.nextDouble() - 0.5)))
    val dir = java.nio.file.Files.createTempDirectory("vrand").toString
    val df = corpus.toDF("vec_id", "embedding")
    VectorStore.create(spark, dir, df.filter(col("vec_id") <= 60),
      "vec_id", "embedding", nCells = nCells, m = 4, ksub = 8,
      ivfIters = 2, pqIters = 2)
    VectorStore.append(spark, dir, df.filter(col("vec_id") > 60),
      "vec_id", "embedding", "b1")
    val queries = corpus.take(4)
      .map { case (i, v) => (i + 500L, v.map(_ * 0.7)) }
      .toDF("qid", "qv")
    val got = VectorStore.topK(spark, dir, queries, "qid", "qv",
        k = 7, nprobe = nCells)
      .select("qid", "rank", "vec_id", "cosine").collect().toSet
    val want = Similarity.bruteForceTopK(
        df.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        queries, "qid", "qv", 7)
      .select("qid", "rank", "vec_id", "cosine").collect().toSet
    assert(got === want)
    val rec = VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
        k = 7, nprobe = nCells)
      .select("recall_at_k").as[Double].collect().toSeq
    assert(rec.nonEmpty && rec.forall(_ === 1.0))
  }

  test("recallAtK: full probe is exact; a straddling batch decays under " +
      "a starved probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vmon").toString
    def v(x: Double, y: Double) = Seq(x, y, 0.0, 0.0)
    // two clean clusters around e1 and e2; ids 1 and 2 sit in SEPARATE
    // clusters so the lowest-id k-means init starts one centroid in each
    val seed = (Seq((1L, v(1, 0.05)), (2L, v(0.05, 1))) ++
      (3L to 10L).map(i => (i, v(1, 0.01 * i))) ++
      (11L to 20L).map(i => (i, v(0.01 * i, 1))))
      .toDF("vec_id", "embedding")
    VectorStore.create(spark, dir, seed, "vec_id", "embedding",
      nCells = 2, m = 2, ksub = 4, ivfIters = 5, pqIters = 2)
    // the "drifted" batch straddles both cells: its true neighbor set
    // for an e1-leaning query spans cells the starved probe won't visit
    val drift = (Seq((101L, v(1, 0.11)), (102L, v(1, 0.12)),
      (103L, v(1, 0.13)), (104L, v(0.11, 1)), (105L, v(0.12, 1)),
      (106L, v(0.13, 1)))).toDF("vec_id", "embedding")
    VectorStore.append(spark, dir, drift, "vec_id", "embedding", "drift")
    val queries = Seq((1000L, v(1, 0.3))).toDF("qid", "qv")

    // calibration point: probing EVERY cell must report perfect recall
    // for every batch — anything else is a bug in the monitor itself
    val full = VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
        k = 6, nprobe = 2)
      .orderBy("batch")
      .select("batch", "n_queries", "n_true", "n_hit", "recall_at_k")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(full === Seq(("drift", 1L, 6L, 6L, 1.0),
      ("seed", 1L, 6L, 6L, 1.0)))

    // starved probe (nprobe=1): the healthy seed batch stays at 1.0
    // (its true top-6 lives entirely in the probed cell), while the
    // straddling batch loses exactly its 3 other-cell neighbors
    val starved = VectorStore.recallAtK(spark, dir, queries, "qid", "qv",
        k = 6, nprobe = 1)
      .orderBy("batch")
      .select("batch", "n_true", "n_hit", "recall_at_k")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(starved === Seq(("drift", 6L, 3L, 0.5),
      ("seed", 6L, 6L, 1.0)))
  }

  test("second append stays consistent (three-batch lineage)") {
    val dir = java.nio.file.Files.createTempDirectory("vstore3").toString
    val b1 = emb.filter(col("vec_id") % 3 === 0)
    val b2 = emb.filter(col("vec_id") % 3 === 1)
    val b3 = emb.filter(col("vec_id") % 3 === 2)
    VectorStore.create(spark, dir, b1, "vec_id", "embedding",
      nCells = 4, m = 4, ksub = 8)
    VectorStore.append(spark, dir, b2, "vec_id", "embedding", "b1")
    VectorStore.append(spark, dir, b3, "vec_id", "embedding", "b2")
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() === emb.filter(col("embedding").isNotNull).count())
    // codes are m-wide and every entry is a valid centroid index
    val bad = stored.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad === 0L)
  }

  test("a qid carrying two different query vectors raises by name") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val corpus = (1L to 40L).map(i => (i, Seq.fill(8)(r.nextDouble() - 0.5)))
    val dir = java.nio.file.Files.createTempDirectory("vdupq").toString
    VectorStore.create(spark, dir, corpus.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 4, m = 4, ksub = 8, ivfIters = 2,
      pqIters = 2)
    // opposite vectors under one qid: at nprobe = 1 the second one can
    // lose every probe slot to the first, and must still be caught
    val v = corpus.head._2
    val dup = Seq((7L, v), (7L, v.map(-_)), (8L, corpus(1)._2))
      .toDF("qid", "qv")
    def raisesFor7(query: => Any): Unit = {
      val e = intercept[IllegalArgumentException](query)
      assert(e.getMessage.contains("qid(s) 7 map to more than one query " +
        "vector"), e.getMessage)
    }
    raisesFor7(VectorStore.topK(spark, dir, dup, "qid", "qv", k = 3,
      nprobe = 1))
    raisesFor7(VectorStore.topKPq(spark, dir, dup, "qid", "qv", k = 3,
      nprobe = 1, candidates = 5))
    raisesFor7(VectorStore.recallAtK(spark, dir, dup, "qid", "qv", k = 3,
      nprobe = 1))
    // distinct qids still answer
    assert(VectorStore.topK(spark, dir, dup.filter($"qid" === 8L), "qid",
      "qv", k = 3, nprobe = 1).count() === 3L)
  }
}
