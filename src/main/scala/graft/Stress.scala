package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness for the near-dup / ANN candidate paths: the
  * correctness gates prove the math at sf0.1 (~5k docs); this main
  * MEASURES peak-memory and skew behavior at 10–1000× that, under the
  * same capped heap a production executor would get (the forked JVM's
  * -Xmx, default 8g — override with SPARK_DRIVER_MEM).
  *
  * The synthetic corpus is deliberately web-shaped where the gate corpus
  * is not:
  *  - 20 boilerplate templates shared by nDocs/20 docs each → the
  *    template shingles have DF ≈ nDocs/20 (250k at 5M docs), far above
  *    `maxPostings` — the hot-posting-list skew surface containmentPairs'
  *    cap exists for, and the minhash-LSH hot-bucket surface;
  *  - Zipf(1)-distributed sources over 1000 hosts (source telemetry);
  *  - planted near-dups: id % 97 == 0 copies id+1's text plus one token
  *    (jaccard 21/23 ≈ 0.91, mutual containment ≥ 0.91);
  *  - planted quotes: id % 101 == 0 is an 8-token excerpt of id+1
  *    (containment 1.0 directed, jaccard ≈ 0.3 — invisible to minhash).
  *
  * Every operator run is bracketed in CacheScope.withScope and reports
  * wall seconds, output counts, the CANDIDATE counts that bound the
  * quadratic risk, and planted-pair recall. Output: one JSON line per
  * step on stdout (grep ^STRESS), summary JSON at the end.
  *
  * Usage: SPARK_DRIVER_MEM=8g sbt "runMain graft.Stress [nDocs]"
  */
object Stress {

  private def j(kv: (String, Any)*): String =
    kv.map {
      case (k, v: String) => "\"" + k + "\":\"" + v + "\""
      case (k, v: Double) => "\"" + k + "\":" + f"$v%.4f"
      case (k, v) => "\"" + k + "\":" + v
    }.mkString("{", ",", "}")

  private def heapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(5000000L)
    val dir = sys.env.getOrElse("STRESS_DIR", "/tmp/graft_stress")
    // Shuffle partitions scale with the DATA, not the core count: at 5M
    // docs the posting explode is ~105M rows, and 32 partitions put
    // ~3.3M aggregation rows in each task — measured OOM at the default
    // 8g heap (0.25 GB/core). 4x cores keeps per-task state inside the
    // execution-memory slice at the same heap; a real cluster tunes
    // this via AQE coalescing from an over-partitioned start, which is
    // exactly what this emulates.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val shufflePartitions = sys.env.getOrElse("STRESS_SHUFFLE",
      (cpus * 4).toString)
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.local.dir", dir + "/spill")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // STRESS_ONLY=minhash,ann re-runs selected steps against the
    // already-generated corpus (generate always runs; it is a no-op
    // when the parquet exists)
    val only = sys.env.get("STRESS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // spill telemetry, snapshotted per step — the direct evidence that
    // a memory-pressured stage degraded to disk instead of OOMing (the
    // 100 TB failure mode that matters)
    val metrics = new GateMetrics
    spark.sparkContext.addSparkListener(metrics)
    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    def step(name: String)(body: => Seq[(String, Any)]): Unit = {
      if (name != "generate" && !only.forall(_.contains(name))) return
      val t0 = System.nanoTime()
      val (sm0, sd0) = (metrics.spillMemB.get, metrics.spillDiskB.get)
      val kv = body
      val secs = (System.nanoTime() - t0) / 1e9
      val line = j((Seq("step" -> name, "secs" -> secs,
        "heap_mb" -> heapMb(),
        "spill_mem_mb" -> (metrics.spillMemB.get - sm0) / (1024 * 1024),
        "spill_disk_mb" -> (metrics.spillDiskB.get - sd0) / (1024 * 1024))
        ++ kv): _*)
      results(name) = line
      println(s"STRESS $line")
    }

    // ---- corpus synthesis (written to parquet: a real scan base, and
    // regen-free across steps) --------------------------------------------
    val docsPath = s"$dir/docs_$nDocs.parquet"
    step("generate") {
      if (!new java.io.File(docsPath).isDirectory) {
        corpus(spark, nDocs).write.mode("overwrite").parquet(docsPath)
      }
      val n = spark.read.parquet(docsPath).count()
      Seq("n_docs" -> n)
    }
    val docs = spark.read.parquet(docsPath)

    // source skew telemetry: Zipf head must be hot (the corpus really is
    // skewed) and the groupBy must still be a bounded partial-agg shuffle
    step("source_skew") {
      val top = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc).limit(1).collect().head
      Seq("top_source" -> top.getString(0), "top_source_docs" -> top.getLong(1))
    }

    // ---- containment: candidate counts + planted-quote recall ------------
    step("containment") {
      // telemetry first, in its own bracket (the hash-only layout the
      // operator itself uses — caching shingle STRINGS alongside was
      // the measured 8 GB OOM): posting/hot counts bound the
      // quadratic risk
      val (nPostings, nHot) = CacheScope.withScope { implicit scope =>
        val sh = scope.cache(docs.select(col("doc_id"),
          array_distinct(transform(
            array_distinct(graft.operators.TextAnalysis
              .shingles(col("text"), 3)), s => xxhash64(s))).as("shh")))
        val postings = sh.select(col("doc_id"), explode(col("shh")).as("h"))
        val dfh = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
        (postings.count(), dfh.filter(col("df") > 10000).count())
      }
      CacheScope.withScope { implicit scope =>
        val pairs = graft.operators.Dedup.containmentPairs(
          docs, "doc_id", "text", k = 3, threshold = 0.9, probeK = 8,
          maxPostings = 10000)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        // planted quotes: id % 101 == 0 is an excerpt of id+1 →
        // (id, id+1) must be found at containment 1.0
        // targets that are themselves quote docs or near-dup copiers
        // have different text than the quote sampled — exclude them
        // from the recall denominator (they are not true pairs)
        val planted = docs.filter(col("doc_id") % 101 === 0 &&
          col("doc_id") + 1 < nDocs && (col("doc_id") + 1) % 101 =!= 0 &&
          (col("doc_id") + 1) % 97 =!= 0)
          .select(col("doc_id").as("id_a"),
            (col("doc_id") + 1).as("id_b"))
        val nPlanted = planted.count()
        val nFound = planted.join(pairs, Seq("id_a", "id_b"), "left_semi")
          .count()
        pairs.unpersist()
        Seq("n_postings" -> nPostings, "n_hot_shingles" -> nHot,
          "n_pairs" -> nPairs, "planted_quotes" -> nPlanted,
          "planted_found" -> nFound,
          "quote_recall" -> nFound.toDouble / math.max(1, nPlanted))
      }
    }

    // ---- minhash LSH: candidate volume + planted-dup recall --------------
    step("minhash") {
      CacheScope.withScope { implicit scope =>
        val prepared = scope.cache(docs.select(col("doc_id"),
          graft.expressions.MinHash.minhashSig(col("text"), 3, 64)
            .as("sig")))
        val nCands = graft.operators.Dedup.lshCandidatePairs(
          graft.operators.Dedup.lshBands(prepared, "doc_id", "sig", 16),
          "doc_id").count()
        val pairs = graft.operators.Dedup.minhashDupPairs(
          docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16,
          threshold = 0.7)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        val planted = docs.filter(col("doc_id") % 97 === 0 &&
          col("doc_id") + 1 < nDocs && col("doc_id") % 101 =!= 0 &&
          (col("doc_id") + 1) % 101 =!= 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        val nPlanted = planted.count()
        // pair output is (min,max)-ordered: id < id+1 always
        val nFound = planted.join(pairs, Seq("id_a", "id_b"), "left_semi")
          .count()
        val out = Seq("n_candidates" -> nCands, "n_pairs" -> nPairs,
          "planted_dups" -> nPlanted, "planted_found" -> nFound,
          "dup_recall" -> nFound.toDouble / math.max(1, nPlanted))
        // clusters ride the found pairs while they're still persisted
        val t0 = System.nanoTime()
        val nClusters = graft.operators.Curation.dupClusters(
          pairs.select("id_a", "id_b"), "id_a", "id_b")
          .select(col("cluster_id")).distinct().count()
        val clSecs = (System.nanoTime() - t0) / 1e9
        pairs.unpersist()
        out ++ Seq("n_clusters" -> nClusters,
          "cluster_secs" -> clSecs)
      }
    }

    // ---- persisted signature store: O(batch) incremental dedup -----------
    step("sigstore") {
      val storeDir = s"$dir/sigstore_$nDocs"
      val seed = docs.filter(col("doc_id") % 100 =!= 0)
      val batch = docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      val t0 = System.nanoTime()
      graft.pipelines.SignatureStore.create(spark, storeDir, seed,
        "doc_id", "text")
      val seedSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nCands = graft.pipelines.SignatureStore.nearDups(spark,
        storeDir, batch, "doc_id", "text").count()
      val qSecs = (System.nanoTime() - t1) / 1e9
      // append-heavy maintenance: 8 crawl batches land, the store's
      // band table fans out to 8 × n_buckets files, then compaction
      // folds everything non-seed back to one batch — query answers
      // must be COUNT-identical before and after (bit-identity is the
      // d9b gate's job), and the file count is the telemetry the
      // small-file story stands on
      val ta = System.nanoTime()
      (0 until 8).foreach { b =>
        val cb = docs.filter(col("doc_id") % 400 === b)
          .select((col("doc_id") + 2L * nDocs + b).as("doc_id"),
            col("text"))
        graft.pipelines.SignatureStore.append(spark, storeDir, cb,
          "doc_id", "text", s"c$b")
      }
      val appendSecs = (System.nanoTime() - ta) / 1e9
      def storeFiles(): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        walk(new java.io.File(s"$storeDir/sigs")) +
          walk(new java.io.File(s"$storeDir/bands"))
      }
      val filesBefore = storeFiles()
      val t2 = System.nanoTime()
      val nBefore = graft.pipelines.SignatureStore.nearDups(spark,
        storeDir, batch, "doc_id", "text").count()
      val qBeforeSecs = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      graft.pipelines.SignatureStore.compact(spark, storeDir,
        vacuumAfter = true)
      val compactSecs = (System.nanoTime() - t3) / 1e9
      val filesAfter = storeFiles()
      val t4 = System.nanoTime()
      val nAfter = graft.pipelines.SignatureStore.nearDups(spark,
        storeDir, batch, "doc_id", "text").count()
      val qAfterSecs = (System.nanoTime() - t4) / 1e9
      require(nAfter == nBefore,
        s"compaction changed the answer: $nBefore -> $nAfter")
      Seq("seed_secs" -> seedSecs, "batch_query_secs" -> qSecs,
        "n_store_neardups" -> nCands,
        "n_batch" -> batch.count(),
        "append_8x_secs" -> appendSecs,
        "files_before_compact" -> filesBefore,
        "query_before_compact_secs" -> qBeforeSecs,
        "compact_secs" -> compactSecs,
        "files_after_compact" -> filesAfter,
        "query_after_compact_secs" -> qAfterSecs,
        "neardups_before" -> nBefore, "neardups_after" -> nAfter)
    }

    // ---- DSIR importance weights over the FULL corpus: two explode
    // passes (~47 features/doc -> ~235M md5 buckets at 5M docs) and a
    // broadcast ratio join; the telemetry checks the weights actually
    // separate the target templates from the rest -----------------------
    step("dsir") {
      CacheScope.withScope { implicit scope =>
        // target distribution: docs built from templates bp0..bp4 (25%
        // of the template space — their template tokens are 5 of ~24
        // tokens per doc, so target docs are separable by weight)
        val target = docs.filter(pmod(col("doc_id"), lit(20)) < 5)
        val w = graft.operators.Curation.dsirWeights(docs, "doc_id",
          "text", target, "text", buckets = 4096)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = w.count()
        val sep = w.join(docs.select(col("doc_id"),
            (pmod(col("doc_id"), lit(20)) < 5).as("in_target")), "doc_id")
          .groupBy(col("in_target"))
          .agg(avg(col("weight")).as("mean_w"))
          .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
        w.unpersist()
        Seq("n_scored" -> n,
          "mean_w_target" -> sep.getOrElse(true, Double.NaN),
          "mean_w_rest" -> sep.getOrElse(false, Double.NaN),
          "separated" -> (sep.getOrElse(true, 0.0) >
            sep.getOrElse(false, 0.0)))
      }
    }

    // ---- bigram LM: ~23 transitions/doc -> ~115M narrow pair rows
    // through the (id, prev, cur) partial-agg shuffle; the model table
    // is vocabulary²-bounded. Separation telemetry: docs drawn from the
    // training templates must score lower NLL than the rest ------------
    step("bigramlm") {
      CacheScope.withScope { implicit scope =>
        val train = docs.filter(pmod(col("doc_id"), lit(20)) < 5)
        val lm = graft.operators.TextAnalysis.bigramLm(train, "text")
        val scored = graft.operators.TextAnalysis.bigramLogProb(
          docs, "doc_id", "text", lm)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = scored.count()
        val sep = scored.join(docs.select(col("doc_id"),
            (pmod(col("doc_id"), lit(20)) < 5).as("in_target")), "doc_id")
          .groupBy(col("in_target"))
          .agg(avg(col("avg_nll")).as("mean_nll"))
          .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
        scored.unpersist()
        Seq("n_scored" -> n,
          "mean_nll_target" -> sep.getOrElse(true, Double.NaN),
          "mean_nll_rest" -> sep.getOrElse(false, Double.NaN),
          "separated" -> (sep.getOrElse(true, Double.MaxValue) <
            sep.getOrElse(false, 0.0)))
      }
    }

    // ---- trigram LM (interpolated): one order up from bigramlm — the
    // doc side collapses to per-doc (w1,w2,w3,nk); the model and FOUR
    // derived marginals join by their n-gram keys. Sizes the heavier
    // join fan of the CCNet-grade scorer at full corpus. ----------------
    step("trigramlm") {
      CacheScope.withScope { implicit scope =>
        val train = docs.filter(pmod(col("doc_id"), lit(20)) < 5)
        val lm = graft.operators.TextAnalysis.trigramLm(train, "text")
        val scored = graft.operators.TextAnalysis.trigramLogProb(
          docs, "doc_id", "text", lm)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = scored.count()
        val sep = scored.join(docs.select(col("doc_id"),
            (pmod(col("doc_id"), lit(20)) < 5).as("in_target")), "doc_id")
          .groupBy(col("in_target"))
          .agg(avg(col("avg_nll")).as("mean_nll"))
          .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
        scored.unpersist()
        Seq("n_scored" -> n,
          "mean_nll_target" -> sep.getOrElse(true, Double.NaN),
          "mean_nll_rest" -> sep.getOrElse(false, Double.NaN),
          "separated" -> (sep.getOrElse(true, Double.MaxValue) <
            sep.getOrElse(false, 0.0)))
      }
    }

    // ---- CCNet bucket assignment under language skew: one language
    // holds 50% of the corpus — the shape that makes nllRankBuckets'
    // per-language ROW_NUMBER sort a single 2.5M-row partition while
    // nllSketchBuckets' bucket-count shuffle stays a few hundred rows
    // per language. Both paths run over the SAME persisted score frame
    // so the timings isolate the bucket machinery; agreement telemetry
    // checks the sketch split really approximates the exact one (head/
    // tail boundaries move by at most the sketch resolution). ----------
    step("nll_buckets") {
      CacheScope.withScope { implicit scope =>
        val langed = docs.select(col("doc_id"),
          when(pmod(xxhash64(lit("lang"), col("doc_id")), lit(100)) < 50,
            lit("en"))
            .otherwise(concat(lit("l"),
              pmod(xxhash64(lit("lang2"), col("doc_id")), lit(19))))
            .as("lang"))
        // HASH train split (the nb-step lesson, inverted): a modulus
        // split holds 15 of 20 templates out of training entirely, and
        // every out-of-model doc then scores the IDENTICAL
        // ln(1/V)-per-transition integer — 75% of each language becomes
        // one point mass and any quantile machinery (exact or sketch)
        // degenerates. The hash split puts every template in-model, so
        // per-doc scores spread and the bucket comparison means
        // something.
        val train = docs.filter(
          pmod(xxhash64(lit("lmsplit"), col("doc_id")), lit(10)) < 3)
        val lm = graft.operators.TextAnalysis.bigramLm(train, "text")
        val scored = graft.operators.TextAnalysis.bigramLogProb(
          docs, "doc_id", "text", lm)
          .join(langed, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = scored.count()
        val topFrac = scored.filter(col("lang") === "en").count()
          .toDouble / n
        val t0 = System.nanoTime()
        val sortCounts = graft.operators.TextAnalysis.nllRankBuckets(
          scored, "doc_id", "lang")
          .groupBy(col("bucket_label")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val sortSecs = (System.nanoTime() - t0) / 1e9
        // m=15 (2^-15 relative resolution): the synthetic corpus's
        // per-transition NLL is CONCENTRATED (template docs share most
        // transitions), and at the default m=9 every doc of a language
        // can land in one bucket — both thresholds collapse onto its
        // edge and the whole language reads "head". Real web corpora
        // have orders more score spread; the finer resolution stands in
        // for that here and costs only more (tiny) bucket-count rows.
        val t1 = System.nanoTime()
        val skCounts = graft.operators.TextAnalysis.nllSketchBuckets(
          scored, "doc_id", "lang", m = 15)
          .groupBy(col("bucket_label")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val sketchSecs = (System.nanoTime() - t1) / 1e9
        // agreement (untimed): fraction of docs with the same label
        val agree = graft.operators.TextAnalysis.nllRankBuckets(
          scored, "doc_id", "lang")
          .select(col("doc_id"), col("bucket_label").as("bl_sort"))
          .join(graft.operators.TextAnalysis.nllSketchBuckets(
            scored, "doc_id", "lang", m = 15)
            .select(col("doc_id"), col("bucket_label").as("bl_sk")),
            "doc_id")
          .agg(sum(when(col("bl_sort") === col("bl_sk"), 1L)
            .otherwise(0L)).as("ok"))
          .collect().head.getLong(0)
        scored.unpersist()
        Seq("n_docs" -> n, "top_lang_frac" ->
            math.round(topFrac * 1000.0) / 1000.0,
          "sort_secs" -> math.round(sortSecs * 100.0) / 100.0,
          "sketch_secs" -> math.round(sketchSecs * 100.0) / 100.0,
          "sketch_speedup" ->
            math.round(sortSecs / sketchSecs * 100.0) / 100.0,
          "sort_head" -> sortCounts.getOrElse("head", 0L),
          "sketch_head" -> skCounts.getOrElse("head", 0L),
          "agreement" -> math.round(agree.toDouble / n * 10000.0) / 10000.0)
      }
    }

    // ---- Naive Bayes classifier: train on 30%, score the held-out 70%
    // at 4 classes. Labels derive from the template id (mod 4), which
    // IS a token of the document ("bp<k>x1"), so the classifier has
    // real signal: accuracy must clear 0.9 (the ~1% near-dups carry a
    // copied template under their own label — the noise floor). The
    // scoring explode is corpus tokens x 4 labels — the x L lever this
    // step sizes. --------------------------------------------------------
    step("nb") {
      CacheScope.withScope { implicit scope =>
        val labeled = docs.withColumn("label",
          concat(lit("c"), pmod(pmod(col("doc_id"), lit(20)), lit(4))))
        // the split must be INDEPENDENT of the label: a modulus split
        // correlates with the template id (both ride doc_id), which
        // holds 14 of 20 templates out of training entirely — hash it
        val isTrain = pmod(xxhash64(lit("nbsplit"), col("doc_id")),
          lit(10)) < 3
        val mdl = graft.operators.TextAnalysis.nbTrain(
          labeled.filter(isTrain), "label", "text")
        val scored = graft.operators.TextAnalysis.nbScore(
          labeled.filter(!isTrain), "doc_id", "text", mdl)
        val acc = scored
          .join(labeled.select(col("doc_id"), col("label")), "doc_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred") === col("label"), 1L).otherwise(0L))
              .as("ok"))
          .collect().head
        Seq("n_scored" -> acc.getLong(0), "n_correct" -> acc.getLong(1),
          "accuracy" -> math.round(10000.0 * acc.getLong(1) /
            acc.getLong(0)) / 10000.0,
          "accuracy_ok" -> (acc.getLong(1).toDouble / acc.getLong(0) > 0.9))
      }
    }

    // ---- BPE training: the corpus collapses to the word-frequency
    // table ONCE (the only corpus-sized step), then 10 merge iterations
    // run over the ~300k-word vocabulary — per-iteration cost must be
    // vocabulary-sized, independent of nDocs ----------------------------
    step("bpe") {
      CacheScope.withScope { implicit scope =>
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        val vocab = wf.count()
        val t0 = System.nanoTime()
        val merges = graft.operators.TextAnalysis.bpeTrain(wf, nMerges = 10)
        val n = merges.count()
        val iterSecs = (System.nanoTime() - t0) / 1e9 / math.max(n, 1)
        Seq("vocab" -> vocab, "n_merges" -> n,
          "secs_per_merge" -> math.round(iterSecs * 1000.0) / 1000.0)
      }
    }

    // ---- production BPE: bpeTrainLocal at production merge counts.
    // The corpus-sized step is the word-freq collapse (one distributed
    // explode + narrow shuffle); training then runs the classic
    // incremental algorithm on the collapsed vocabulary with ZERO Spark
    // jobs per merge — the path to 32k merges. Encode segments the
    // VOCABULARY imperatively (rank-heap candidates, cost per word
    // proportional to merges that APPLY, not the merge-table length)
    // and per-doc token counts would join back by word (cu18's shape).
    step("bpe_prod") {
      CacheScope.withScope { implicit scope =>
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        val vocab = wf.count()
        val nMerges = sys.env.get("STRESS_BPE_MERGES")
          .map(_.toInt).getOrElse(2000)
        val t0 = System.nanoTime()
        val mergeTable = graft.operators.TextAnalysis
          .bpeTrainLocal(wf, nMerges = nMerges)
        val mergeRows = mergeTable.orderBy(col("iter")).collect()
        val trainSecs = (System.nanoTime() - t0) / 1e9
        val merges = mergeRows
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val t1 = System.nanoTime()
        val enc = graft.operators.TextAnalysis
          .bpeEncodeWords(wf.select(col("word")), "word", merges)
          .agg(count(lit(1)).as("n_words"),
            sum(size(col("syms"))).as("n_syms"))
          .collect().head
        val encSecs = (System.nanoTime() - t1) / 1e9
        Seq("vocab" -> vocab, "n_merges" -> merges.size,
          "train_secs" -> math.round(trainSecs * 100.0) / 100.0,
          "ms_per_merge" -> math.round(
            trainSecs * 1e5 / math.max(merges.size, 1)) / 100.0,
          "encode_secs" -> math.round(encSecs * 100.0) / 100.0,
          "n_words_encoded" -> enc.getLong(0),
          "n_syms_total" -> enc.getLong(1))
      }
    }

    // ---- corpus → token IDs at production merges: the LAST hop of
    // the raw-web → training-tokens story, and the one corpus-sized
    // step of it whose memory shape (per-doc posexplode regroup +
    // collect_list/array_sort) was previously gate-scale only. Two
    // tiers share one 32k-merge table: the full corpus at native
    // length (throughput), and a LONG-DOC tier — 20 docs concatenated
    // into one, ~480 tokens/doc, real web-page length — where the
    // per-doc token arrays are 20× bigger (the collect_list memory
    // probe). ---------------------------------------------------------
    step("bpe_encode_corpus") {
      CacheScope.withScope { implicit scope =>
        val nMerges = sys.env.get("STRESS_BPE_ENC_MERGES")
          .map(_.toInt).getOrElse(32000)
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        val t0 = System.nanoTime()
        val merges = graft.operators.TextAnalysis
          .bpeTrainLocal(wf, nMerges = nMerges)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val trainSecs = (System.nanoTime() - t0) / 1e9
        def encode(corpus: DataFrame, tag: String): Seq[(String, Any)] =
          CacheScope.withScope { s2 =>
            val t = System.nanoTime()
            val (vocab, out) = graft.operators.TextAnalysis
              .bpeEncodeCorpus(corpus, "doc_id", "text", merges)(s2)
            val agg = out.agg(count(lit(1)).as("n"),
              sum(col("n_tok").cast("long")).as("tok"),
              max(col("n_tok")).as("mx")).collect().head
            val secs = (System.nanoTime() - t) / 1e9
            val nTok = agg.getLong(1)
            Seq(s"${tag}_docs" -> agg.getLong(0),
              s"${tag}_tokens" -> nTok,
              s"${tag}_max_doc_tokens" -> agg.getInt(2),
              s"${tag}_vocab_ids" -> vocab.count(),
              s"${tag}_secs" -> math.round(secs * 100.0) / 100.0,
              s"${tag}_tokens_per_sec" -> math.round(nTok / secs))
          }
        val full = encode(docs, "full")
        // 20:1 concat — ONE payload shuffle to build realistic page
        // lengths; concat order within a group is irrelevant to the
        // measurement (token mass and array sizes, not content)
        val longDocs = docs
          .groupBy((col("doc_id") / 20).cast("long").as("doc_id"))
          .agg(concat_ws(" ", collect_list(col("text"))).as("text"))
        val long20 = encode(longDocs, "long20")
        Seq("n_merges" -> merges.size,
          "train_secs" -> math.round(trainSecs * 100.0) / 100.0) ++
          full ++ long20
      }
    }

    // ---- byte-level BPE at full corpus: the GPT-2 family next to
    // bpe_encode_corpus. Identical scale contract (one word collapse,
    // zero Spark jobs per merge, one distinct-word encode + per-doc
    // regroup) but case-PRESERVING over the 256-symbol byte alphabet —
    // so the collapsed vocabulary is larger (case variants split) and
    // words are byte-mapped strings. -----------------------------------
    step("byte_bpe") {
      CacheScope.withScope { implicit scope =>
        val nMerges = sys.env.get("STRESS_BYTE_BPE_MERGES")
          .map(_.toInt).getOrElse(32000)
        val wf = scope.cache(
          graft.operators.ByteBpe.byteWordFreq(docs, "text"))
        val t0 = System.nanoTime()
        val merges = graft.operators.ByteBpe.train(wf, nMerges)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val trainSecs = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val (vocab, out) = graft.operators.ByteBpe
          .encodeCorpus(docs, "doc_id", "text", merges)
        val agg = out.agg(count(lit(1)).as("n"),
          sum(col("n_tok").cast("long")).as("tok"),
          max(col("n_tok")).as("mx")).collect().head
        val secs = (System.nanoTime() - t1) / 1e9
        val nTok = agg.getLong(1)
        Seq("n_merges" -> merges.size,
          "train_secs" -> math.round(trainSecs * 100.0) / 100.0,
          "docs" -> agg.getLong(0),
          "tokens" -> nTok,
          "max_doc_tokens" -> agg.getInt(2),
          "vocab_ids" -> vocab.count(),
          "encode_secs" -> math.round(secs * 100.0) / 100.0,
          "tokens_per_sec" -> math.round(nTok / secs))
      }
    }

    // ---- span corruption over the full corpus: hashed token ids (the
    // cu21 construction) then the map-only window/sentinel pass.
    // Map-only is the claim — the step proves it runs at scan speed
    // with zero spill and a mask fraction of span/window. ----------------
    step("span_corrupt") {
      CacheScope.withScope { implicit scope =>
        val toks = docs.select(col("doc_id"),
          transform(filter(graft.operators.TextAnalysis.tokens(
              coalesce(col("text"), lit(""))), w => w =!= ""),
            w => pmod(conv(substring(md5(concat(lit("tok|"), w)), 1, 8),
              16, 10).cast("long"), lit(50000L))).as("tok_ids"))
        val t0 = System.nanoTime()
        val out = graft.operators.Curation.spanCorrupt(toks, "doc_id",
          "tok_ids", window = 20, span = 3, sentinelBase = 50000L,
          seed = "t5", validateIds = true)
        val agg = out.agg(count(lit(1)).as("n"),
          sum(col("n_tok").cast("long")).as("tok"),
          sum(col("n_masked").cast("long")).as("msk"),
          sum(size(col("targets")).cast("long")).as("tgt"))
          .collect().head
        val secs = (System.nanoTime() - t0) / 1e9
        val nTok = agg.getLong(1)
        Seq("docs" -> agg.getLong(0),
          "tokens" -> nTok,
          "masked" -> agg.getLong(2),
          "mask_frac" -> math.round(agg.getLong(2).toDouble / nTok
            * 1e4) / 1e4,
          "target_len" -> agg.getLong(3),
          "secs" -> math.round(secs * 100.0) / 100.0,
          "tokens_per_sec" -> math.round(nTok / secs))
      }
    }

    // ---- hashed embeddings over the full corpus: text → unit vectors
    // with two md5 draws per token and one narrow (id, bucket) integer
    // shuffle. The unit-norm count is the correctness sanity; the
    // throughput is the claim (an embedding source that keeps up with
    // the scan). -----------------------------------------------------------
    step("hash_embed") {
      CacheScope.withScope { implicit scope =>
        val t0 = System.nanoTime()
        val emb = graft.operators.Similarity.hashEmbed(docs, "doc_id",
          "text", dim = 64, seed = "he")
        val agg = emb.agg(count(lit(1)).as("n"),
          sum(when(abs(aggregate(col("embedding"), lit(0.0),
              (a, x) => a + x * x) - lit(1.0)) < lit(1e-9), 1L)
            .otherwise(0L)).as("unit")).collect().head
        val secs = (System.nanoTime() - t0) / 1e9
        Seq("vectors" -> agg.getLong(0),
          "unit_norm" -> agg.getLong(1),
          "dim" -> 64,
          "secs" -> math.round(secs * 100.0) / 100.0,
          "vecs_per_sec" -> math.round(agg.getLong(0) / secs))
      }
    }

    // ---- semantic dedup from RAW TEXT: fused hash embeddings feed
    // SemDeDup directly — the no-external-model curation story at
    // corpus scale. Planted near-dups (neighbor's text + one appended
    // token) sit at hash-embedding cosine ≈ 23/√(23·24) ≈ 0.979; two
    // same-template strangers share only 5 of 23 tokens (cosine ≈
    // 0.22), so threshold 0.95 separates plants from boilerplate
    // kinship cleanly. Recall < 1.0 here means the PAIR straddled an
    // IVF cell boundary — the known nprobe-1 trade SemDeDup makes. ------
    step("hash_semdedup") {
      CacheScope.withScope { implicit scope =>
        val t0 = System.nanoTime()
        val emb = scope.cache(graft.operators.Similarity.hashEmbed(
          docs, "doc_id", "text", dim = 64, seed = "he"))
        val index = graft.operators.Similarity.ivfBuild(emb, "doc_id",
          "embedding", nCells = 1024, iters = 2)
        val out = graft.operators.Dedup.semanticDedup(emb, "doc_id",
          "embedding", index.centroids, threshold = 0.95,
          maxClusterSize = 100000)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nDropped = out.filter(!col("keep")).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val maxCell = out.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).collect().head.getLong(0)
        val planted = docs.filter(col("doc_id") % 97 === 0 &&
          col("doc_id") + 1 < nDocs && col("doc_id") % 101 =!= 0 &&
          (col("doc_id") + 1) % 101 =!= 0)
          .select((col("doc_id") + 1).as("id_hi"))
        val nPlanted = planted.count()
        // keep-first: the higher id of a collapsed pair is the drop
        val nCaught = planted
          .join(out.filter(!col("keep"))
            .select(col("doc_id").as("id_hi")), Seq("id_hi"), "left_semi")
          .count()
        out.unpersist()
        Seq("vectors" -> nDocs,
          "secs" -> math.round(secs * 100.0) / 100.0,
          "n_dropped" -> nDropped,
          "max_cell" -> maxCell,
          "planted_pairs" -> nPlanted,
          "planted_collapsed" -> nCaught,
          "collapse_recall" -> math.round(nCaught.toDouble /
            math.max(1, nPlanted) * 1e4) / 1e4)
      }
    }

    // ---- the SAME chain with MULTI-PROBE membership (nprobe 2): the
    // boundary lever measured. Single-probe recall < 1.0 above is
    // exactly the pairs whose two sides argmax into different cells;
    // probing each vector's runner-up cell recovers every pair where
    // either side's second-best cell is the other's primary. Costs:
    // identical assignment flops (the fused TopCells loop computes all
    // cosines either way), ~4× verify candidates. ------------------------
    step("hash_semdedup_mp") {
      CacheScope.withScope { implicit scope =>
        val t0 = System.nanoTime()
        val emb = scope.cache(graft.operators.Similarity.hashEmbed(
          docs, "doc_id", "text", dim = 64, seed = "he"))
        val index = graft.operators.Similarity.ivfBuild(emb, "doc_id",
          "embedding", nCells = 1024, iters = 2)
        val out = graft.operators.Dedup.semanticDedup(emb, "doc_id",
          "embedding", index.centroids, threshold = 0.95,
          maxClusterSize = 100000, nprobe = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nDropped = out.filter(!col("keep")).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val planted = docs.filter(col("doc_id") % 97 === 0 &&
          col("doc_id") + 1 < nDocs && col("doc_id") % 101 =!= 0 &&
          (col("doc_id") + 1) % 101 =!= 0)
          .select((col("doc_id") + 1).as("id_hi"))
        val nPlanted = planted.count()
        val nCaught = planted
          .join(out.filter(!col("keep"))
            .select(col("doc_id").as("id_hi")), Seq("id_hi"), "left_semi")
          .count()
        out.unpersist()
        Seq("vectors" -> nDocs, "nprobe" -> 2,
          "secs" -> math.round(secs * 100.0) / 100.0,
          "n_dropped" -> nDropped,
          "planted_pairs" -> nPlanted,
          "planted_collapsed" -> nCaught,
          "collapse_recall" -> math.round(nCaught.toDouble /
            math.max(1, nPlanted) * 1e4) / 1e4)
      }
    }

    // ---- unigram-LM tokenizer at full corpus: the SentencePiece
    // counterpart of bpe_encode_corpus. Seed candidates + EM + prune
    // run DRIVER-LOCAL over the collapsed word table (zero Spark jobs
    // per EM pass — the bpeTrainLocal contract); the corpus pays one
    // word-frequency collapse and one distinct-word Viterbi + per-doc
    // regroup. Telemetry separates the two, and the NLL sanity check
    // (avg cost per token ≪ the unk cost) proves the model actually
    // fit rather than degenerating to per-character fallback. ------------
    // ---- the tokenizer comparison card at corpus scale: the t24
    // operator composed with measured per-family ENCODE throughput —
    // the one table a pipeline team reads when picking a tokenizer.
    // Each family trains at its production setting (8k pieces / 2k
    // merges), encodes the full corpus once, and contributes one card
    // row; tokens_per_sec is the wall-clock of that encode. ---------------
    step("tokenizer_card") {
      CacheScope.withScope { implicit scope =>
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        wf.count()
        val ta = graft.operators.TextAnalysis
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9)
        }
        // char-BPE (2k merges)
        val merges = ta.bpeTrainLocal(wf, nMerges = 2000)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val (cvp, cSecs) = timed {
          val (v, p) = ta.bpeEncodeCorpus(docs, "doc_id", "text", merges)
          val pc = p.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pc.count()
          (v.count(), pc)
        }
        // byte-BPE (2k merges)
        val bmerges = graft.operators.ByteBpe.train(
            graft.operators.ByteBpe.byteWordFreq(docs, "text"), 2000)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val (yvp, ySecs) = timed {
          val (v, p) = graft.operators.ByteBpe.encodeCorpus(
            docs, "doc_id", "text", bmerges)
          val pc = p.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pc.count()
          (v.count(), pc)
        }
        // unigram (8k pieces)
        val umodel = graft.operators.Unigram.trainLocal(wf,
          vocabSize = 8000, emIters = 2)
        val (uvp, uSecs) = timed {
          val (v, p) = graft.operators.Unigram.encodeCorpus(
            docs, "doc_id", "text", umodel.costs)
          val pc = p.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pc.count()
          (v.count(), pc)
        }
        // WordPiece (8k pieces)
        val pieces = graft.operators.WordPiece.vocab(wf,
            vocabSize = 8000)
          .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
        val (wvp, wSecs) = timed {
          val (v, p) = graft.operators.WordPiece.encodeCorpus(
            docs, "doc_id", "text", pieces)
          val pc = p.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pc.count()
          (v.count(), pc)
        }
        val card = ta.tokenizerCard(docs, "doc_id", "text", Seq(
            ("bpe-char", cvp._1, cvp._2),
            ("bpe-byte", yvp._1, yvp._2),
            ("unigram", uvp._1, uvp._2),
            ("wordpiece", wvp._1, wvp._2)))
          .orderBy(col("family")).collect()
        val secsBy = Map("bpe-char" -> cSecs, "bpe-byte" -> ySecs,
          "unigram" -> uSecs, "wordpiece" -> wSecs)
        Seq(cvp._2, yvp._2, uvp._2, wvp._2)
          .foreach(_.unpersist(blocking = false))
        card.toSeq.flatMap { r =>
          val fam = r.getString(0)
          val tag = fam.replace("-", "_")
          val nTok = r.getLong(5)
          Seq(
            s"${tag}_vocab" -> r.getLong(1),
            s"${tag}_tokens" -> nTok,
            s"${tag}_unk_words" -> r.getLong(6),
            s"${tag}_fertility" ->
              math.round(r.getDouble(8) * 1e4) / 1e4,
            s"${tag}_bytes_per_token" ->
              math.round(r.getDouble(9) * 1e4) / 1e4,
            s"${tag}_encode_secs" ->
              math.round(secsBy(fam) * 100.0) / 100.0,
            s"${tag}_tokens_per_sec" ->
              math.round(nTok / secsBy(fam)))
        }
      }
    }

    // ---- tokenizer DECODE at corpus scale: the inverse leg next to
    // the t24 encode numbers. The byte-level SPACE-CARRYING family
    // (the GPT-2 pre-tokenizer proper) encodes the full corpus, then
    // decodes every id sequence back — decode is one model-sized
    // array-literal lookup + concat + byte-unmap per row, a pure scan
    // — and the roundtrip is verified EXACTLY (decoded == text for
    // every doc, counted distributed). WordPiece's boundary-marked
    // decode is measured beside it. --------------------------------------
    step("tokenizer_decode") {
      CacheScope.withScope { implicit scope =>
        val bb = graft.operators.ByteBpe
        val bmerges = bb.train(bb.byteWordFreqSp(docs, "text"), 2000)
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val (_, perDoc0) = bb.encodeCorpusSp(docs, "doc_id", "text",
          bmerges)
        val perDoc = perDoc0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nTok = perDoc.agg(sum(col("n_tok"))).collect()
          .head.getLong(0)
        val t0 = System.nanoTime()
        val dec = bb.decodeCorpus(perDoc, "token_ids", bmerges)
          .select(col("doc_id"), col("decoded"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        dec.count()
        val decSecs = (System.nanoTime() - t0) / 1e9
        val mismatches = dec
          .join(docs.select(col("doc_id"),
            coalesce(col("text"), lit("")).as("text")), Seq("doc_id"))
          .filter(col("decoded") =!= col("text")).count()
        dec.unpersist(blocking = false)
        perDoc.unpersist(blocking = false)
        // WordPiece decode beside it (vocab from the shared wf shape)
        val pieces = graft.operators.WordPiece.vocab(
            scope.cache(graft.operators.TextAnalysis
              .bpeWordFreq(docs, "text")), vocabSize = 8000)
          .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
        val (_, wpd0) = graft.operators.WordPiece.encodeCorpus(
          docs, "doc_id", "text", pieces)
        val wpd = wpd0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wTok = wpd.agg(sum(col("n_tok"))).collect().head.getLong(0)
        val t1 = System.nanoTime()
        val wn = graft.operators.WordPiece.decodeCorpus(wpd,
            "token_ids", pieces)
          .select(length(col("decoded")).as("l"))
          .agg(sum(col("l"))).collect().head.getLong(0)
        val wSecs = (System.nanoTime() - t1) / 1e9
        wpd.unpersist(blocking = false)
        Seq("docs" -> nDocs,
          "bpe_byte_sp_tokens" -> nTok,
          "bpe_byte_sp_decode_secs" ->
            math.round(decSecs * 100.0) / 100.0,
          "bpe_byte_sp_decode_tok_per_sec" ->
            math.round(nTok / decSecs),
          "roundtrip_mismatches" -> mismatches,
          "wordpiece_tokens" -> wTok,
          "wordpiece_decode_secs" -> math.round(wSecs * 100.0) / 100.0,
          "wordpiece_decode_tok_per_sec" -> math.round(wTok / wSecs),
          "wordpiece_decoded_chars" -> wn)
      }
    }

    step("unigram") {
      CacheScope.withScope { implicit scope =>
        val vocabSize = sys.env.get("STRESS_UNIGRAM_VOCAB")
          .map(_.toInt).getOrElse(8000)
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        val nWords = wf.count()
        val t0 = System.nanoTime()
        val model = graft.operators.Unigram.trainLocal(wf,
          vocabSize = vocabSize, emIters = 2)
        val trainSecs = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val (vocabDf, out) = graft.operators.Unigram.encodeCorpus(
          docs, "doc_id", "text", model.costs)
        val agg = out.agg(count(lit(1)).as("n"),
          sum(col("n_tok").cast("long")).as("tok"),
          sum(col("score_mu")).as("nll"),
          max(col("n_tok")).as("mx")).collect().head
        val encodeSecs = (System.nanoTime() - t1) / 1e9
        val nTok = agg.getLong(1)
        Seq("n_distinct_words" -> nWords,
          "vocab_pieces" -> model.pieces.size,
          "train_secs" -> math.round(trainSecs * 100.0) / 100.0,
          "encode_docs" -> agg.getLong(0),
          "encode_tokens" -> nTok,
          "max_doc_tokens" -> agg.getInt(3),
          "vocab_ids_used" -> vocabDf.count(),
          "encode_secs" -> math.round(encodeSecs * 100.0) / 100.0,
          "tokens_per_sec" -> math.round(nTok / encodeSecs),
          "avg_cost_mu_per_token" -> math.round(
            agg.getLong(2).toDouble / math.max(1L, nTok)))
      }
    }

    // ---- WordPiece at full corpus: positional vocabulary from the
    // collapsed word table (model-sized), then the greedy encoder over
    // DISTINCT words + the per-doc regroup — the same two corpus-sized
    // passes as the unigram step, so this measures what the greedy
    // matcher and the ## bookkeeping add over the Viterbi at identical
    // shape. n_unk must come back 0: single-char coverage over the
    // training alphabet guarantees every corpus word encodes. ------------
    step("wordpiece") {
      CacheScope.withScope { implicit scope =>
        val vocabSize = sys.env.get("STRESS_WORDPIECE_VOCAB")
          .map(_.toInt).getOrElse(8000)
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(docs, "text"))
        val nWords = wf.count()
        val t0 = System.nanoTime()
        val pieces = graft.operators.WordPiece.vocab(wf,
            vocabSize = vocabSize, maxPieceLen = 8)
          .select(col("piece")).collect().map(_.getString(0)).toIndexedSeq
        val vocabSecs = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val (vocabDf, out) = graft.operators.WordPiece.encodeCorpus(
          docs, "doc_id", "text", pieces)
        val agg = out.agg(count(lit(1)).as("n"),
          sum(col("n_tok").cast("long")).as("tok"),
          sum(col("n_unk").cast("long")).as("unk"),
          max(col("n_tok")).as("mx")).collect().head
        val encodeSecs = (System.nanoTime() - t1) / 1e9
        val nTok = agg.getLong(1)
        Seq("n_distinct_words" -> nWords,
          "vocab_pieces" -> pieces.size,
          "vocab_secs" -> math.round(vocabSecs * 100.0) / 100.0,
          "encode_docs" -> agg.getLong(0),
          "encode_tokens" -> nTok,
          "unk_words" -> agg.getLong(2),
          "max_doc_tokens" -> agg.getInt(3),
          "vocab_ids_used" -> vocabDf.count(),
          "encode_secs" -> math.round(encodeSecs * 100.0) / 100.0,
          "tokens_per_sec" -> math.round(nTok / encodeSecs))
      }
    }

    // ---- composed raw-web pipeline at full corpus: HTML extract →
    // URL/lexicon blocklist → C4 → Gopher → LM threshold (the c3 gate
    // shape, measured). The HTML wrap triples the text with character
    // substitutions (distinct tokens, so the copies don't trip the
    // dup-gram filters) and sentence-izes every 4 tokens so the docs
    // genuinely traverse C4's line rules and Gopher's 50-word floor —
    // a funnel that died at stage one would measure nothing. The
    // map-only claim for the front is checked IN the row: exchanges
    // in the front's executed plan (expected: none before the gate's
    // first aggregation).
    step("web_pipeline") {
      CacheScope.withScope { implicit scope =>
        val raw = rawWeb(docs)
        val (front, frontObs) = graft.pipelines.CorpusPipeline.webFront(
          raw, "doc_id", "html", "url", "text",
          blockedDomains = Seq("host3.com", "host7.com"),
          lexicon = Seq("xdup"), maxBadFrac = 0.01)
        val frontExchanges = front.queryExecution.executedPlan
          .toString.linesIterator.count(_.contains("Exchange"))
        // host1 is the Zipf head (~13% of the corpus) — the reference
        // slice the LM trains on; sources are host1..host999 (rank 0
        // never occurs in the inverse-CDF draw)
        val (out, funnel) = graft.pipelines.CorpusPipeline.qualityGate(
          front, "doc_id", "text",
          front.filter(col("source") === "host1"), "text",
          maxAvgNll = 14.0)
        val nOut = out.count()
        val fo = frontObs.get
        Seq("n_in" -> fo("n_in").asInstanceOf[Long],
          "n_domain_blocked" ->
            fo("n_domain_blocked").asInstanceOf[Long],
          "n_lexicon_blocked" ->
            fo("n_lexicon_blocked").asInstanceOf[Long],
          "front_plan_exchanges" -> frontExchanges,
          "after_front" -> funnel("input"),
          "after_c4" -> funnel("after_c4"),
          "after_gopher" -> funnel("after_gopher"),
          "after_lm" -> funnel("after_lm"),
          "n_out" -> nOut)
      }
    }

    // ---- END-TO-END corpus build: raw crawl → front (HTML + block-
    // lists) → C4/Gopher/LM quality gate → exact dedup → CCNet sketch
    // buckets (per-source, Zipf-skewed groups) → bucketed sampling →
    // 2k-merge BPE token IDs → dataset card. One artifact exercising
    // every cross-operator interface of the training-data story; each
    // stage count lands in the row so a stage that silently annihilates
    // the corpus (the interface-drift failure) is visible, and the
    // card's fields summarize what a curation run would actually ship.
    step("end_to_end") {
      CacheScope.withScope { implicit scope =>
        val (front, _) = graft.pipelines.CorpusPipeline.webFront(
          rawWeb(docs), "doc_id", "html", "url", "text",
          blockedDomains = Seq("host3.com", "host7.com"),
          lexicon = Seq("xdup"), maxBadFrac = 0.01)
        val (survivors, funnel) = graft.pipelines.CorpusPipeline
          .qualityGate(front, "doc_id", "text",
            front.filter(col("source") === "host1"), "text",
            maxAvgNll = 14.0)
        // exact dedup on content hash, keep-lowest-id (near-dup tiers
        // are measured by their own steps; the end-to-end keeps the
        // cheap always-on stage). PAYLOAD-FREE shape: a row_number
        // window over the survivor frame would sort 4.6M full-text
        // rows while the quality gate's two cached corpus frames
        // already hold the execution-memory slice (measured
        // UNABLE_TO_ACQUIRE_MEMORY at 5M, 8 GB heap) — instead the
        // winner set is a narrow (hash, min id) aggregate and the
        // payload rides a semi-join, README scale-defect lesson #1.
        val hashed = survivors.withColumn("__h",
          graft.operators.Dedup.contentHash(col("text")))
        val keepIds = hashed.groupBy(col("__h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val deduped = hashed
          .join(keepIds, Seq("__h", "doc_id"), "left_semi").drop("__h")
        // CCNet buckets per SOURCE (the Zipf-skewed grouping — the
        // skew surface the sketch path exists for), then head+middle
        val bucketed = graft.operators.TextAnalysis.nllSketchBuckets(
          deduped, "doc_id", "source")
        val sampled = scope.cache(graft.operators.Curation.ccnetSample(
          bucketed, "doc_id", middleRate = 0.5)
          .select(col("doc_id"), col("source"), col("text")))
        val nSampled = sampled.count()
        // tokens at 2k merges (32k is bpe_encode_corpus's own row —
        // here the point is the composed interface, measured end to
        // end on the curated output)
        val wf = scope.cache(graft.operators.TextAnalysis
          .bpeWordFreq(sampled, "text"))
        val mergesDf = graft.operators.TextAnalysis
          .bpeTrainLocal(wf, nMerges = 2000)
        val merges = mergesDf
          .orderBy(col("iter")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // the train-once contract at scale: persist the tokenizer and
        // confirm the stored model IS the trained one
        val tokDir = s"$dir/tokenizer_e2e"
        graft.pipelines.TokenizerStore.save(spark, tokDir, "bpe",
          mergesDf)
        val storedOk = graft.pipelines.TokenizerStore
          .loadMerges(spark, tokDir) == merges
        val (_, toksRaw) = graft.operators.TextAnalysis
          .bpeEncodeCorpus(sampled, "doc_id", "text", merges)
        val toks = scope.cache(toksRaw.select(col("doc_id"),
          col("token_ids").cast("array<long>").as("token_ids"),
          col("n_tok")))
        val nTok = toks.agg(sum(col("n_tok").cast("long")))
          .collect().head.getLong(0)
        // the NEW terminal hop: token sequences → T5 denoising pairs
        // (map-only — the whole hop adds one scan over the token frame)
        val tDen = System.nanoTime()
        val pairs = graft.operators.Curation.spanCorrupt(toks,
          "doc_id", "token_ids", window = 20, span = 3,
          sentinelBase = 100000L, seed = "t5", validateIds = true)
        val pAgg = pairs.agg(count(lit(1)).as("n"),
          sum(col("n_masked").cast("long")).as("msk"),
          sum(size(col("inputs")).cast("long")).as("inp"))
          .collect().head
        val denoiseSecs = (System.nanoTime() - tDen) / 1e9
        // the shipped dataset card over the final corpus; lang rides
        // the heuristic langId (synthetic text scores 'und' — the
        // card must survive that, not assume clean labels)
        val card = graft.operators.Curation.datasetCard(
          sampled.withColumn("lang", graft.operators.TextAnalysis
            .langId(col("text"))), "text", "lang")
          .collect().head
        Seq("after_front" -> funnel("input"),
          "after_c4" -> funnel("after_c4"),
          "after_gopher" -> funnel("after_gopher"),
          "after_lm" -> funnel("after_lm"),
          "after_sample" -> nSampled,
          "n_tokens" -> nTok,
          "tokenizer_store_ok" -> storedOk,
          "denoise_docs" -> pAgg.getLong(0),
          "denoise_masked" -> pAgg.getLong(1),
          "denoise_input_len" -> pAgg.getLong(2),
          "denoise_secs" -> math.round(denoiseSecs * 100.0) / 100.0,
          "card_n_docs" -> card.getAs[Long]("n_docs"),
          "card_n_words" -> card.getAs[Long]("n_words"),
          "card_dup_rate" -> card.getAs[Double]("dup_rate"),
          "card_gopher_pass_rate" ->
            card.getAs[Double]("gopher_pass_rate"),
          "card_p50_chars" -> card.getAs[Long]("p50_chars"),
          "card_top_lang" -> card.getAs[String]("top_lang"))
      }
    }

    // ---- real-codec multimodal throughput: synthesize nDocs/10 PNGs
    // and WAVs (real encoders), then probe types + decode stats + a
    // real resize pass — the imgs/sec that sizes the ImageIO path for
    // a media-scale corpus. Payloads are born in the same mapPartitions
    // that consumes them downstream; nothing shuffles payload bytes. --
    step("multimodal") {
      val nMedia = math.max(50000L, nDocs / 10)
      val ids = spark.range(nMedia).toDF("media_id")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType)))
      val media = spark.createDataFrame(ids.rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload: Array[Byte] =
            if (id % 2 == 0)
              graft.operators.Multimodal.ImageIo.encodeTwoTonePng(
                (16 + (id % 8) * 4).toInt, (12 + (id % 5) * 4).toInt,
                ((id % 251).toInt, ((id * 7) % 251).toInt,
                  ((id * 13) % 251).toInt),
                (((id * 3) % 251).toInt, ((id * 11) % 251).toInt,
                  ((id * 17) % 251).toInt))
            else
              graft.operators.Multimodal.WavIo.encodePcm16(
                (8000 + (id % 4) * 4000).toInt,
                Array.tabulate(400)(i =>
                  (((id + i) % 2000) - 1000).toShort))
          org.apache.spark.sql.Row(id, payload)
        }
      }, schema).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = media.count()
      val t0 = System.nanoTime()
      val probed = graft.operators.Multimodal.probeMedia(
        media, "media_id", "payload")
      val byType = probed.groupBy(col("meta.media_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val probeSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val imgStats = graft.operators.Multimodal.decodeImageStats(
        media.filter(col("media_id") % 2 === 0))
        .agg(count(lit(1)), sum(col("width").cast("long"))).collect().head
      val decodeSecs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val resized = graft.operators.Multimodal.resizeImages(
        graft.operators.Multimodal.probeMedia(
          media.filter(col("media_id") % 2 === 0), "media_id",
          "payload"), 8, 6)
        .agg(count(lit(1)),
          sum(col("meta.size_bytes"))).collect().head
      val resizeSecs = (System.nanoTime() - t2) / 1e9
      media.unpersist(blocking = false)
      Seq("n_media" -> n,
        "n_images" -> byType.getOrElse("image", 0L),
        "n_audio" -> byType.getOrElse("audio", 0L),
        "probe_secs" -> math.round(probeSecs * 100.0) / 100.0,
        "probe_per_sec" -> math.round(n / probeSecs),
        "decode_secs" -> math.round(decodeSecs * 100.0) / 100.0,
        "decode_imgs_per_sec" -> math.round(
          imgStats.getLong(0) / decodeSecs),
        "resize_secs" -> math.round(resizeSecs * 100.0) / 100.0,
        "resize_imgs_per_sec" -> math.round(
          resized.getLong(0) / resizeSecs))
    }

    // ---- animated-GIF tier: encode nDocs/100 multi-frame GIFs with
    // the real sequence writer, then indexed frame SAMPLING (only the
    // sampled frames decode) and frame EXTRACTION (GIF→PNG re-encode)
    // — the gifs/s that sizes the multi-frame path; payloads are born
    // in the consuming mapPartitions, nothing shuffles bytes. --------
    step("multimodal_gif") {
      val nGifs = math.max(20000L, nDocs / 100)
      val ids = spark.range(nGifs).toDF("media_id")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType)))
      val media = spark.createDataFrame(ids.rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(id,
            graft.operators.Multimodal.GifIo.encodeAnimatedGif(
              (16 + (id % 4) * 4).toInt, (12 + (id % 3) * 4).toInt,
              graft.operators.Multimodal.GifIo.testbedFrames(id)))
        }
      }, schema).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = media.count()
      val t0 = System.nanoTime()
      val sampled = graft.operators.Multimodal.sampleGifFrames(media, 3)
        .agg(count(lit(1)), sum(col("mean_r"))).collect().head
      val sampleSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val extracted = graft.operators.Multimodal
        .extractGifFrames(media, 2)
        .agg(count(lit(1)), sum(octet_length(col("payload"))))
        .collect().head
      val extractSecs = (System.nanoTime() - t1) / 1e9
      media.unpersist(blocking = false)
      Seq("n_gifs" -> n,
        "frames_sampled" -> sampled.getLong(0),
        "sample_secs" -> math.round(sampleSecs * 100.0) / 100.0,
        "gifs_sampled_per_sec" -> math.round(n / sampleSecs),
        "frames_extracted" -> extracted.getLong(0),
        "extract_secs" -> math.round(extractSecs * 100.0) / 100.0,
        "gifs_extracted_per_sec" -> math.round(n / extractSecs))
    }

    // ---- per-row quality reports over the FULL corpus: gopher (five
    // sorted gram folds/row) + c4 line clean in ONE map-only pass — the
    // telemetry is pure scan throughput, there is nothing to shuffle ----
    step("quality") {
      val r = docs
        .withColumn("__g", graft.operators.Curation.gopherReportFused(col("text")))
        .withColumn("__c", graft.operators.Curation.c4LineClean(col("text")))
        .agg(count(lit(1)).as("n"),
          sum(when(graft.operators.Curation.gopherPass(col("__g")), 1L)
            .otherwise(0L)).as("n_gopher_pass"),
          sum(when(col("__c").getField("is_kept"), 1L).otherwise(0L))
            .as("n_c4_kept"),
          sum(col("__g").getField("word_count")).as("n_words"))
        .collect().head
      Seq("n_docs" -> r.getLong(0), "n_gopher_pass" -> r.getLong(1),
        "n_c4_kept" -> r.getLong(2), "n_words" -> r.getLong(3))
    }

    // ---- exact substring dedup over the FULL corpus: ~17 windows/doc
    // -> ~85M narrow gram tuples cached + DF-counted; only the planted
    // structures repeat (template prefixes mix with unique tails inside
    // every window), so spans are a sharp recall signal ------------------
    step("spans") {
      CacheScope.withScope { implicit scope =>
        val spans = graft.operators.Dedup.repeatedSpans(docs, "doc_id",
          "text", k = 8, minOcc = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nSpans = spans.count()
        val nDocs97 = spans.select(col("doc_id")).distinct().count()
        // planted quotes are EXACTLY one 8-token window repeated inside
        // their target: the quote doc must come back fully spanned.
        // Same denominator rule as the containment step: a target that
        // is itself a quote/near-dup doc carries different text than
        // the window sampled, so those quotes genuinely occur once.
        val quotes = docs.filter(col("doc_id") % 101 === 0 &&
          col("doc_id") + 1 < nDocs && (col("doc_id") + 1) % 101 =!= 0 &&
          (col("doc_id") + 1) % 97 =!= 0)
          .select(col("doc_id"))
        val nQuotes = quotes.count()
        val covered = quotes.join(spans.filter(col("span_start") === 0),
          Seq("doc_id"), "left_semi").count()
        spans.unpersist()
        Seq("n_spans" -> nSpans, "n_spanned_docs" -> nDocs97,
          "planted_quotes" -> nQuotes, "quotes_fully_spanned" -> covered,
          "span_recall" -> covered.toDouble / math.max(1, nQuotes))
      }
    }

    // ---- SimHash at nDocs/5, sized per the density note: 16-bit chunks
    // (2^16 buckets) for a ~1M-doc shard; the 8-chunk default's 256
    // buckets would be O(n²/256) here ----------------------------------
    step("simhash") {
      val n1 = math.max(100000L, nDocs / 5)
      val sdocs = docs.filter(col("doc_id") < n1)
      CacheScope.withScope { implicit scope =>
        val pairs = graft.operators.Dedup.simhashDupPairs(sdocs,
          "doc_id", "text", maxHamming = 3, chunks = 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        // planted near-dups (jaccard 0.91) TELEMETRY: SimHash hamming
        // for one appended token is usually but not provably <= 3, so
        // this is a measured rate, not an assert
        val planted = sdocs.filter(col("doc_id") % 97 === 0 &&
          col("doc_id") + 1 < n1 && col("doc_id") % 101 =!= 0 &&
          (col("doc_id") + 1) % 101 =!= 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        val nPlanted = planted.count()
        val nFound = planted.join(pairs, Seq("id_a", "id_b"), "left_semi")
          .count()
        pairs.unpersist()
        Seq("n_docs_shard" -> n1, "n_pairs" -> nPairs,
          "planted_dups" -> nPlanted, "planted_within_h3" -> nFound,
          "h3_capture_rate" -> nFound.toDouble / math.max(1, nPlanted))
      }
    }

    // ---- embedding-cosine near-dup at nDocs/5 vectors, planes sized
    // with log2(n) per the density note (16 planes -> 65k buckets) ------
    step("embdup") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      CacheScope.withScope { implicit scope =>
        val pairs = graft.operators.Dedup.embeddingDupPairs(vecs,
          "vec_id", "embedding", threshold = 0.999, planes = 16,
          probes = 2, dim = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nPairs = pairs.count()
        // planted rescaled copies are cosine 1.0 and share every bucket
        // (identical direction): recall must be exact
        val planted = vecs.filter(col("vec_id") % 89 === 0 &&
          col("vec_id") + 1 < nVecs)
          .select(col("vec_id").as("id_a"), (col("vec_id") + 1).as("id_b"))
        val nPlanted = planted.count()
        val nFound = planted.join(pairs, Seq("id_a", "id_b"), "left_semi")
          .count()
        pairs.unpersist()
        Seq("n_vectors" -> nVecs, "n_pairs" -> nPairs,
          "planted_dups" -> nPlanted, "planted_found" -> nFound,
          "dup_recall" -> nFound.toDouble / math.max(1, nPlanted))
      }
    }

    // ---- SemDeDup over nDocs/5 vectors: k-means centroids sized to the
    // corpus's 1024 latent centers, map-side assignment, within-cell
    // quadratic verify bounded by maxClusterSize; planted rescaled
    // copies share their original's direction hence its cell — recall
    // for them must be exact -------------------------------------------
    step("semdedup") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val t0 = System.nanoTime()
      val index = graft.operators.Similarity.ivfBuild(vecs, "vec_id",
        "embedding", nCells = 1024, iters = 2)
      val trainSecs = (System.nanoTime() - t0) / 1e9
      CacheScope.withScope { implicit scope =>
        val out = graft.operators.Dedup.semanticDedup(vecs, "vec_id",
          "embedding", index.centroids, threshold = 0.999,
          maxClusterSize = 100000)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nKept = out.filter(col("keep")).count()
        val nDropped = out.filter(!col("keep")).count()
        // cell-size skew telemetry: the quadratic bound the guard caps
        val maxCell = out.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).collect().head.getLong(0)
        // planted copies (id % 89 == 0 carries id+1's direction): the
        // higher id of each pair must be the dropped one (keep-first)
        val planted = vecs.filter(col("vec_id") % 89 === 0 &&
          col("vec_id") + 1 < nVecs)
          .select(col("vec_id").as("id_lo"), (col("vec_id") + 1).as("id_hi"))
        val nPlanted = planted.count()
        // keep-first drops the HIGHER id of each cosine-1.0 pair
        val nCaught = planted.select(col("id_hi").as("vec_id"))
          .join(out.filter(!col("keep")).select(col("vec_id")),
            Seq("vec_id"), "left_semi").count()
        out.unpersist()
        Seq("n_vectors" -> nVecs, "train_secs" -> trainSecs,
          "n_kept" -> nKept, "n_dropped" -> nDropped,
          "max_cell" -> maxCell, "planted_pairs" -> nPlanted,
          "planted_collapsed" -> nCaught,
          "collapse_recall" -> nCaught.toDouble / math.max(1, nPlanted))
      }
    }

    // ---- ANN: IVF+PQ store over nDocs/5 synthetic 64-dim vectors ---------
    step("ann") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val storeDir = s"$dir/vstore_$nVecs"
      val t0 = System.nanoTime()
      graft.pipelines.VectorStore.create(spark, storeDir, vecs,
        "vec_id", "embedding", nCells = 256, m = 8, ksub = 16,
        ivfIters = 2, pqIters = 2)
      val createSecs = (System.nanoTime() - t0) / 1e9
      // 100 queries drawn from the corpus itself
      val queries = vecs.filter(col("vec_id") % (nVecs / 100) === 0)
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nQ = queries.count()
      val t1 = System.nanoTime()
      val ivf = graft.pipelines.VectorStore.topK(spark, storeDir,
        queries, "qid", "qv", k = 10, nprobe = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nIvf = ivf.count()
      val ivfSecs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val brute = graft.operators.Similarity.bruteForceTopK(
        vecs, "vec_id", "embedding", queries, "qid", "qv", k = 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBrute = brute.count()
      val bruteSecs = (System.nanoTime() - t2) / 1e9
      val hits = brute.select(col("qid"), col("vec_id"))
        .join(ivf.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"),
          "left_semi").count()
      ivf.unpersist(); brute.unpersist(); queries.unpersist()
      Seq("n_vectors" -> nVecs, "n_queries" -> nQ,
        "create_secs" -> createSecs, "ivf_query_secs" -> ivfSecs,
        "brute_query_secs" -> bruteSecs, "ivf_rows" -> nIvf,
        "recall_at_10" -> hits.toDouble / math.max(1, nBrute))
    }

    // ---- int8 vector store vs float64: same corpus, same quantizer
    // params, same 100 queries — the telemetry is the task-level
    // bytesRead delta around each topK (the scan-bandwidth claim,
    // measured) plus on-disk store size and result overlap. The int8
    // probe reads (q, scale) columns instead of the float64 array;
    // at 100 TB the ANN scan is bandwidth-bound, so scan_bytes_ratio
    // is the number that matters — local wall time is compute-bound
    // and the dequant transform sits per scored pair (documented in
    // VectorStore.readVectors). --------------------------------------
    step("ann_int8") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val f64Dir = s"$dir/vstore_$nVecs"
      if (!new java.io.File(s"$f64Dir/vectors").isDirectory)
        graft.pipelines.VectorStore.create(spark, f64Dir, vecs,
          "vec_id", "embedding", nCells = 256, m = 8, ksub = 16,
          ivfIters = 2, pqIters = 2)
      val i8Dir = s"$dir/vstore_i8_$nVecs"
      val t0 = System.nanoTime()
      graft.pipelines.VectorStore.create(spark, i8Dir, vecs,
        "vec_id", "embedding", nCells = 256, m = 8, ksub = 16,
        ivfIters = 2, pqIters = 2, int8 = true)
      val createSecs = (System.nanoTime() - t0) / 1e9
      def dirBytes(p: String): Long = {
        val path = new org.apache.hadoop.fs.Path(s"$p/vectors")
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(path).getLength
      }
      val queries = vecs.filter(col("vec_id") % (nVecs / 100) === 0)
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      // Scan bytes come from the PLAN's pruned file listing
      // (selectedPartitions.totalFileSize) — deterministic and honest
      // about what a cold executor must pull. Task inputMetrics are a
      // dead end here: local-FS parquet reads bypass the Hadoop
      // statistics layer (measured: 3 MB "read" for a 480 MB scan).
      // AQE is disabled for the measured query so the scan node is
      // inspectable in the executed plan; the plan itself (pruning,
      // join, topk) is AQE-independent at this size.
      def run(storeDir: String) = {
        val aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val t = System.nanoTime()
          val df = graft.pipelines.VectorStore.topK(spark, storeDir,
            queries, "qid", "qv", k = 10, nprobe = 16)
          val res = df.select(col("qid"), col("vec_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = res.count()
          val secs = (System.nanoTime() - t) / 1e9
          // read the listing off df's OWN plan, not res's: res is now
          // cached and its executed plan is an InMemoryTableScan with
          // no file scan underneath (measured: sum = 0)
          val scanBytes = df.queryExecution.executedPlan
            .collectWithSubqueries {
              case s: org.apache.spark.sql.execution.FileSourceScanExec
                if s.relation.location.rootPaths.exists(
                  _.toString.contains("/vectors")) =>
                s.selectedPartitions.totalFileSize
            }.sum
          (secs, scanBytes, res, n)
        } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
      val (f64Secs, f64Bytes, f64Res, nF) = run(f64Dir)
      val (i8Secs, i8Bytes, i8Res, _) = run(i8Dir)
      val overlap = f64Res.join(i8Res, Seq("qid", "vec_id"), "left_semi")
        .count()
      f64Res.unpersist(); i8Res.unpersist(); queries.unpersist()
      Seq("n_vectors" -> nVecs,
        "i8_create_secs" -> math.round(createSecs * 100.0) / 100.0,
        "store_mb_f64" -> dirBytes(f64Dir) / (1024 * 1024),
        "store_mb_i8" -> dirBytes(i8Dir) / (1024 * 1024),
        "query_secs_f64" -> math.round(f64Secs * 100.0) / 100.0,
        "query_secs_i8" -> math.round(i8Secs * 100.0) / 100.0,
        "scan_mb_f64" -> f64Bytes / (1024 * 1024),
        "scan_mb_i8" -> i8Bytes / (1024 * 1024),
        "scan_bytes_ratio" -> math.round(
          f64Bytes.toDouble / math.max(1L, i8Bytes) * 100.0) / 100.0,
        "topk_overlap" ->
          math.round(overlap.toDouble / math.max(1L, nF) * 10000.0)
            / 10000.0)
    }

    // ---- streaming ANN ingest drill with a MID-STREAM KILL: seed a
    // store from 100k vectors, stream the remaining 900k as ~45
    // file-batches of ~20k, stop() the query once ≥5 stream batches
    // have landed (a real crash leaves the in-flight batch's
    // checkpoint commit unwritten), then restart from the SAME
    // checkpoint — foreachBatch replays the uncommitted batch, the
    // overwrite-by-tag append replaces its b=stream-<id> directory,
    // and the final store must hold every vector exactly once. The
    // exactly-once contract is spec-pinned at toy scale
    // (VectorStoreSpec); this is the same contract where it matters. --
    step("ann_stream") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val root = s"$dir/vstream_$nVecs"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val storeDir = s"$root/store"
      val nSeed = nVecs / 10
      val t0 = System.nanoTime()
      graft.pipelines.VectorStore.create(spark, storeDir,
        vecs.filter(col("vec_id") < nSeed), "vec_id", "embedding",
        nCells = 256, m = 8, ksub = 16, ivfIters = 2, pqIters = 2)
      val seedSecs = (System.nanoTime() - t0) / 1e9
      // ~45 one-file batches of ~20k vectors each
      val streamed = vecs.filter(col("vec_id") >= nSeed)
        .withColumn("bkt", (col("vec_id") % 45).cast("int"))
      streamed.repartition(45, col("bkt")).write
        .partitionBy("bkt").parquet(s"$root/in")
      val inSchema = org.apache.spark.sql.types.StructType(
        streamed.drop("bkt").schema.fields)
      def drain(): Unit = graft.pipelines.VectorStore.ingestStream(
        spark, storeDir,
        spark.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
        "vec_id", "embedding", s"$root/ckpt")
      def streamBatches(): Int = {
        val p = new org.apache.hadoop.fs.Path(s"$storeDir/vectors")
        if (!fs.exists(p)) 0
        else fs.listStatus(p)
          .count(_.getPath.getName.startsWith("b=stream-"))
      }
      // phase 1: drain in a thread, kill after >= 5 landed batches
      val t1 = System.nanoTime()
      val runner = new Thread(() =>
        try drain() catch { case _: Throwable => () })
      runner.start()
      while (runner.isAlive && streamBatches() < 5) Thread.sleep(200)
      val killedAt = streamBatches()
      spark.streams.active.foreach(q => try q.stop() catch {
        case _: Throwable => () })
      runner.join(120000)
      val phase1Secs = (System.nanoTime() - t1) / 1e9
      // phase 2: restart from the same checkpoint — replays the
      // uncommitted batch (overwrite-by-tag), drains the rest
      val t2 = System.nanoTime()
      drain()
      val phase2Secs = (System.nanoTime() - t2) / 1e9
      val stored = spark.read.parquet(s"$storeDir/vectors")
      val nRows = stored.count()
      val nIds = stored.select("id").distinct().count()
      val nBatchesLanded = streamBatches()
      // and the store still answers: planted near-dup neighbors rank
      val queries = vecs.filter(col("vec_id") % (nVecs / 100) === 0)
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      def timedTopK(): (Double, Long) = {
        val t = System.nanoTime()
        val n = graft.pipelines.VectorStore.topK(spark, storeDir,
          queries, "qid", "qv", k = 10, nprobe = 16).count()
        ((System.nanoTime() - t) / 1e9, n)
      }
      def nFiles(): Long = {
        val it = fs.listFiles(
          new org.apache.hadoop.fs.Path(s"$storeDir/vectors"), true)
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      }
      // compaction payoff: fold the ~46 micro-batch dirs into one
      // committed dir, vacuum the retired sources, and measure what
      // the probe's directory walk + scan actually gained
      val (qSecsBefore, nTop) = timedTopK()
      val filesBefore = nFiles()
      val t3 = System.nanoTime()
      val tag = graft.pipelines.VectorStore.compact(spark, storeDir,
        vacuumAfter = true)
      val compactSecs = (System.nanoTime() - t3) / 1e9
      val filesAfter = nFiles()
      val (qSecsAfter, nTopAfter) = timedTopK()
      val storedC = spark.read.parquet(s"$storeDir/vectors")
      val nRowsC = storedC.count()
      val nIdsC = storedC.select("id").distinct().count()
      queries.unpersist()
      Seq("n_vectors" -> nVecs, "n_seed" -> nSeed,
        "n_stream_batches" -> nBatchesLanded,
        "killed_after_batches" -> killedAt,
        "seed_secs" -> math.round(seedSecs * 100.0) / 100.0,
        "phase1_secs" -> math.round(phase1Secs * 100.0) / 100.0,
        "phase2_secs" -> math.round(phase2Secs * 100.0) / 100.0,
        "rows_stored" -> nRows, "distinct_ids" -> nIds,
        "exactly_once_ok" -> (nRows == nVecs && nIds == nVecs),
        "topk_rows" -> nTop,
        "compacted" -> tag.nonEmpty,
        "compact_secs" -> math.round(compactSecs * 100.0) / 100.0,
        "files_before" -> filesBefore, "files_after" -> filesAfter,
        "query_secs_before" -> math.round(qSecsBefore * 100.0) / 100.0,
        "query_secs_after" -> math.round(qSecsAfter * 100.0) / 100.0,
        "lossless_ok" -> (nRowsC == nVecs && nIdsC == nVecs &&
          nTopAfter == nTop))
    }

    // ---- random projection: 64→16 dims over 1M vectors, then
    // brute-force 100 queries in the projected space vs the original —
    // the JL lever measured: projection is one map-only pass, the
    // projected scan+dot is ~4× less work, and recall@10 against the
    // full-dim truth quantifies what the 4× costs. ---------------------
    step("rp") {
      val nVecs = math.max(100000L, nDocs / 5)
      val vecsPath = s"$dir/vecs_$nVecs.parquet"
      if (!new java.io.File(vecsPath).isDirectory)
        vectors(spark, nVecs).write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val queries = vecs.filter(col("vec_id") % (nVecs / 100) === 0)
        .limit(100)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      def topk(data: org.apache.spark.sql.DataFrame, vc: String,
          qs: org.apache.spark.sql.DataFrame, qc: String, k: Int) = {
        val t = System.nanoTime()
        val r = graft.operators.Similarity.bruteForceTopK(
          data, "vec_id", vc, qs, "qid", qc, k = k)
          .select(col("qid"), col("vec_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = r.count()
        ((System.nanoTime() - t) / 1e9, r, n)
      }
      val (fullSecs, fullRes, nFull) = topk(vecs, "embedding",
        queries, "qv", k = 10)
      // RP is a PREFILTER (the rp2 two-stage): the projected scan
      // keeps a 100-candidate pool per query at outDim-dot cost, the
      // exact rerank touches only pool×queries rows, and the number
      // that matters is two-stage recall. This corpus is adversarial
      // for JL — ~977 cell-mates per latent center at cosine ≳ 0.99,
      // so near-tie ranking loses precision fast as dims shrink;
      // measuring 16 AND 32 dims makes the recall/compute trade
      // explicit rather than asserted.
      val byDim = Seq(16, 32).flatMap { k =>
        val t0 = System.nanoTime()
        val projPath = s"$dir/vecs_rp${k}_$nVecs.parquet"
        vecs.select(col("vec_id"),
            graft.operators.Similarity.randomProject(
              col("embedding"), 64, k, "stress").as("p"))
          .write.mode("overwrite").parquet(projPath)
        val projSecs = (System.nanoTime() - t0) / 1e9
        val proj = spark.read.parquet(projPath)
        val pqk = queries.select(col("qid"),
            graft.operators.Similarity.randomProject(
              col("qv"), 64, k, "stress").as("qp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pqk.count()
        val (preSecs, pool, _) = topk(proj, "p", pqk, "qp", k = 100)
        val t2 = System.nanoTime()
        val reranked = graft.operators.Similarity.rankTopK(
          pool.join(vecs, Seq("vec_id"))
            .join(broadcast(queries), Seq("qid"))
            .withColumn("cosine", graft.operators.Similarity.cosine(
              col("embedding"), col("qv"))), "qid", "vec_id", k = 10)
          .select(col("qid"), col("vec_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        reranked.count()
        val rerankSecs = (System.nanoTime() - t2) / 1e9
        val hits = fullRes.join(reranked, Seq("qid", "vec_id"),
          "left_semi").count()
        pool.unpersist(); reranked.unpersist(); pqk.unpersist()
        Seq(s"project_secs_d$k" -> math.round(projSecs * 100.0) / 100.0,
          s"prefilter_secs_d$k" -> math.round(preSecs * 100.0) / 100.0,
          s"rerank_secs_d$k" -> math.round(rerankSecs * 100.0) / 100.0,
          s"recall_at_10_d$k" -> math.round(
            hits.toDouble / math.max(1L, nFull) * 10000.0) / 10000.0)
      }
      fullRes.unpersist(); queries.unpersist()
      Seq("n_vectors" -> nVecs,
        "full_dim_query_secs" -> math.round(fullSecs * 100.0) / 100.0
      ) ++ byDim
    }

    // ---- web-graph PageRank: damped power iterations over a
    // power-law domain graph (quadratic-density targets → real hubs:
    // in-degree(j) ∝ 1/sqrt(j), node 0 collects ~7k in-edges at 5M).
    // The per-iteration cost that matters at 100 TB is one shuffle of
    // the RANK table into the cached edge partitioning + a map-side-
    // combined contribution aggregation — the edge frame itself never
    // re-shuffles after its single repartition(src). Fixed-point longs
    // make the run bit-replayable (wg2 gates the arithmetic; this
    // measures its scale shape). -----------------------------------------
    step("pagerank") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      def run(iters: Int): (Double, Long, String, Long, Long) =
        CacheScope.withScope { implicit sc =>
          val t0 = System.nanoTime()
          val pr = graft.operators.WebGraph.pageRank(e, iters = iters)
          val top = pr.orderBy(col("rank_fp").desc, col("node"))
            .limit(1).collect().head
          val agg = pr.agg(sum(col("rank_fp")), count(lit(1)))
            .collect().head
          ((System.nanoTime() - t0) / 1e9, agg.getLong(0),
            top.getString(0), top.getLong(1), agg.getLong(1))
        }
      val (oneSecs, _, _, _, _) = run(1)
      val (tenSecs, mass, topNode, topRank, nOut) = run(10)
      Seq("n_edges" -> e.count(), "n_nodes" -> nOut,
        "secs_1_iter" -> math.round(oneSecs * 100.0) / 100.0,
        "secs_10_iters" -> math.round(tenSecs * 100.0) / 100.0,
        "secs_marginal_iter" -> math.round(
          (tenSecs - oneSecs) / 9.0 * 100.0) / 100.0,
        "mass_retained" -> math.round(
          mass.toDouble / graft.operators.WebGraph.Scale * 10000.0) / 10000.0,
        "top_node" -> topNode,
        "top_rank_x_n" -> math.round(
          topRank.toDouble * nOut / graft.operators.WebGraph.Scale
            * 100.0) / 100.0)
    }

    // ---- HITS over the same power-law graph: TWO rank tables per
    // step (authority from the hub side, hubs from the authority side)
    // against the edge frame cached twice — once partitioned by src,
    // once by dst — so each half-step shuffles only its score table.
    // The L1 normalization rides in-plan as a broadcast one-row
    // aggregate; mass retention of BOTH vectors is the arithmetic
    // check (wg4 gates the values; this measures the scale shape of
    // the doubled iteration). ---------------------------------------------
    step("hits") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      def run(iters: Int): (Double, Long, Long, String, Long) =
        CacheScope.withScope { implicit sc =>
          val t0 = System.nanoTime()
          val hs = graft.operators.WebGraph.hits(e, iters = iters,
            localMaxEdges = 0L)
          val top = hs.orderBy(col("auth_fp").desc, col("node"))
            .limit(1).collect().head
          val agg = hs.agg(sum(col("auth_fp")), sum(col("hub_fp")),
            count(lit(1))).collect().head
          ((System.nanoTime() - t0) / 1e9, agg.getLong(0),
            agg.getLong(1), top.getString(0), agg.getLong(2))
        }
      val (oneSecs, _, _, _, _) = run(1)
      val (fiveSecs, aMass, hMass, topAuth, nOut) = run(5)
      Seq("n_edges" -> e.count(), "n_nodes" -> nOut,
        "secs_1_iter" -> math.round(oneSecs * 100.0) / 100.0,
        "secs_5_iters" -> math.round(fiveSecs * 100.0) / 100.0,
        "secs_marginal_iter" -> math.round(
          (fiveSecs - oneSecs) / 4.0 * 100.0) / 100.0,
        "auth_mass_retained" -> math.round(
          aMass.toDouble / graft.operators.WebGraph.Scale * 10000.0) / 10000.0,
        "hub_mass_retained" -> math.round(
          hMass.toDouble / graft.operators.WebGraph.Scale * 10000.0) / 10000.0,
        "top_authority" -> topAuth)
    }

    // ---- HITS warm-start over the same graph + a 50k-edge delta:
    // the wg4b maintenance shape at scale. A converged prior hub
    // vector re-converges on the grown graph in fewer iterations than
    // uniform — measured as resume-2-iters vs cold-5-iters wall on
    // the union, with identical per-iteration arithmetic. ------------------
    step("hits_resume") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      // 50k delta edges between existing d-nodes (md5-derived)
      val delta = spark.range(0, 50000L).select(
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("ha"),
          col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("src"),
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("hb"),
          col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("dst"),
        lit(1L).as("weight"))
      val union = e.unionByName(delta)
      val prior = CacheScope.withScope { implicit sc =>
        graft.operators.WebGraph.hits(e, iters = 5, localMaxEdges = 0L)
          .select(col("node"), col("hub_fp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      prior.count()
      val t0 = System.nanoTime()
      val (rMass, rN) = CacheScope.withScope { implicit sc =>
        val r = graft.operators.WebGraph.hitsResume(union, prior,
          iters = 2, localMaxEdges = 0L)
        val agg = r.agg(sum(col("auth_fp")), count(lit(1)))
          .collect().head
        (agg.getLong(0), agg.getLong(1))
      }
      val resumeSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      CacheScope.withScope { implicit sc =>
        graft.operators.WebGraph.hits(union, iters = 5,
            localMaxEdges = 0L)
          .agg(sum(col("auth_fp"))).collect()
      }
      val coldSecs = (System.nanoTime() - t1) / 1e9
      prior.unpersist(blocking = false)
      Seq("delta_edges" -> 50000L, "n_nodes" -> rN,
        "resume_2it_secs" -> math.round(resumeSecs * 100.0) / 100.0,
        "cold_5it_secs" -> math.round(coldSecs * 100.0) / 100.0,
        "auth_mass_retained" -> math.round(rMass.toDouble /
          graft.operators.WebGraph.Scale * 10000.0) / 10000.0)
    }

    // ---- TrustRank over the same 5M-edge graph: seed-restricted
    // teleport (the spam-demotion prior). Same per-iteration shape as
    // pagerank — the seed gate rides the plan as an InSet over the
    // node column, so the marginal-iteration cost should match
    // pagerank's within noise. ------------------------------------------
    step("trustrank") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      val seeds = (0 until 10).map(i => s"d$i")
      CacheScope.withScope { implicit sc =>
        val t0 = System.nanoTime()
        val tr = graft.operators.WebGraph.trustRank(e, seeds,
          iters = 10, damping = 0.85, localMaxEdges = 0L)
        val top = tr.orderBy(col("rank_fp").desc, col("node"))
          .limit(1).collect().head
        val agg = tr.agg(sum(col("rank_fp")), count(lit(1)),
            sum(when(col("rank_fp") > 0L, 1L).otherwise(0L)))
          .collect().head
        val secs = (System.nanoTime() - t0) / 1e9
        Seq("n_edges" -> e.count(), "n_nodes" -> agg.getLong(1),
          "n_seeds" -> seeds.size,
          "secs_10_iters" -> math.round(secs * 100.0) / 100.0,
          "mass_retained" -> math.round(agg.getLong(0).toDouble /
            graft.operators.WebGraph.Scale * 10000.0) / 10000.0,
          "nodes_reached" -> agg.getLong(2),
          "top_node" -> top.getString(0))
      }
    }

    // ---- label propagation over the same 5M-edge graph: the
    // community detector for structure INSIDE the giant component.
    // Each round is one label-table shuffle into the cached
    // symmetrized adjacency + an exact-long (node, label) argmax agg
    // with map-side combine — rows in flight are three longs. ------------
    step("labelprop") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      CacheScope.withScope { implicit sc =>
        val t0 = System.nanoTime()
        val lp = graft.operators.WebGraph.labelProp(e, iters = 5,
          localMaxEdges = 0L)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val agg = lp.agg(count(lit(1)).as("n"),
          max(col("n_members")).as("mx")).collect().head
        val nComm = lp.select(col("community_rep")).distinct().count()
        val secs = (System.nanoTime() - t0) / 1e9
        lp.unpersist(blocking = false)
        Seq("n_edges" -> e.count(), "n_nodes" -> agg.getLong(0),
          "secs_5_iters" -> math.round(secs * 100.0) / 100.0,
          "n_communities" -> nComm,
          "largest_community" -> agg.getLong(1))
      }
    }

    // ---- LPA convergence monitor at the same scale: rounds-to-
    // convergence under a 30-round budget with early exit — the
    // changed-label curve is what replaces a guessed iteration budget
    // at 100 TB, and the oscillation flag turns the documented sync-LPA
    // failure mode into telemetry. ----------------------------------------
    step("labelprop_converge") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      CacheScope.withScope { implicit sc =>
        val t0 = System.nanoTime()
        val (lp, st) = graft.operators.WebGraph.labelPropWithStats(e,
          iters = 30, localMaxEdges = 0L)
        val nNodes = lp.count()
        val secs = (System.nanoTime() - t0) / 1e9
        Seq("n_nodes" -> nNodes,
          "budget" -> 30, "rounds" -> st.rounds,
          "converged" -> st.converged,
          "oscillating" -> st.oscillating,
          "secs" -> math.round(secs * 100.0) / 100.0,
          "secs_per_round" ->
            math.round(secs / math.max(1, st.rounds) * 100.0) / 100.0,
          "changed_curve" ->
            st.changedPerRound.mkString("[", " ", "]"))
      }
    }

    // ---- LPA at crawl cadence: rounds-to-convergence resumed vs
    // cold (the wg8b contract's operational payoff, measured). A
    // converged labeling warm-starts the union after a 50k-edge
    // delta; both runs use the LpaStats monitor with early-exit, so
    // the comparison is rounds and wall to the SAME stop criterion.
    // (Resumed != cold labels is expected and fine — LPA has no
    // unique fixed point; determinism is wg8b's gate.) ------------------
    step("labelprop_resume") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      val e = spark.read.parquet(edgesPath)
      val delta = spark.range(0, 50000L).select(
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("la"),
          col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("src"),
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("lb"),
          col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("dst"),
        lit(1L).as("weight"))
      val union = e.unionByName(delta)
      val prior = CacheScope.withScope { implicit sc =>
        val p = graft.operators.WebGraph.labelPropWithStats(e,
            iters = 30, localMaxEdges = 0L)._1
          .select(col("node"), col("community_rep"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      val t0 = System.nanoTime()
      val (resumedRounds, resumedOsc) = CacheScope.withScope {
        implicit sc =>
          val (lp, st) = graft.operators.WebGraph
            .labelPropResumeWithStats(union, prior, iters = 30,
              localMaxEdges = 0L)
          lp.count()
          (st.rounds, st.oscillating)
      }
      val resumeSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (coldRounds, coldOsc) = CacheScope.withScope { implicit sc =>
        val (lp, st) = graft.operators.WebGraph.labelPropWithStats(
          union, iters = 30, localMaxEdges = 0L)
        lp.count()
        (st.rounds, st.oscillating)
      }
      val coldSecs = (System.nanoTime() - t1) / 1e9
      prior.unpersist(blocking = false)
      Seq("delta_edges" -> 50000L,
        "resume_rounds" -> resumedRounds,
        "resume_secs" -> math.round(resumeSecs * 100.0) / 100.0,
        "resume_oscillating" -> resumedOsc,
        "cold_rounds" -> coldRounds,
        "cold_secs" -> math.round(coldSecs * 100.0) / 100.0,
        "cold_oscillating" -> coldOsc)
    }

    // ---- connected components over the same 5M-edge graph: the
    // large-star/small-star contraction path — O(log n) narrow (long,
    // long) shuffle rounds regardless of component diameter, which the
    // power-law target distribution does not bound. ----------------------
    step("components") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      CacheScope.withScope { implicit sc =>
        val e = spark.read.parquet(edgesPath)
        val t0 = System.nanoTime()
        val comps = graft.operators.WebGraph.components(e)
        val agg = comps.agg(
          countDistinct(col("component_rep")).as("nc"),
          count(lit(1)).as("nn"),
          max(col("n_members")).as("mx")).collect().head
        val secs = (System.nanoTime() - t0) / 1e9
        Seq("n_edges" -> e.count(),
          "n_nodes" -> agg.getLong(1),
          "n_components" -> agg.getLong(0),
          "largest_component" -> agg.getLong(2),
          "cc_secs" -> math.round(secs * 100.0) / 100.0)
      }
    }

    // ---- incremental components: a 50k-edge crawl delta lands on the
    // already-labeled 5M-edge graph. The prior's node→rep stars are a
    // LOSSLESS node-sized connectivity summary, so the resume
    // contracts (500k stars + 50k delta) instead of 5.05M edges —
    // the per-batch maintenance cost becomes O(nodes + delta),
    // independent of accumulated edge count. -------------------------------
    step("components_delta") {
      val nEdges = math.max(1000000L, nDocs)
      val edgesPath = ensurePagerankEdges(spark, dir, nEdges)
      CacheScope.withScope { implicit sc =>
        val e = spark.read.parquet(edgesPath)
        val prior = graft.operators.WebGraph.components(e)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        prior.count()
        // delta: 50k new edges — even ids source from existing d-nodes,
        // odd ids source from brand-new domains (md5-derived,
        // deterministic; consecutive odd ids share a new node so fresh
        // domains arrive with degree ≥ 1 fan-out). floor-div via cast:
        // col/2 is DOUBLE division and would mint 'new0.5' node names.
        val delta = spark.range(0, 50000L)
          .select(
            when(col("id") % 2 === 0,
              concat(lit("d"), pmod(conv(substring(md5(concat(lit("a"),
                col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
                lit(500000L)).cast("string")))
              .otherwise(concat(lit("new"),
                (col("id") / 2).cast("long").cast("string")))
              .as("src"),
            concat(lit("d"), pmod(conv(substring(md5(concat(lit("b"),
              col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
              lit(500000L)).cast("string")).as("dst"))
        val t0 = System.nanoTime()
        val res = graft.operators.WebGraph.componentsResume(delta, prior,
          localMaxEdges = 0L)
        val agg = res.agg(countDistinct(col("component_rep")).as("nc"),
          count(lit(1)).as("nn")).collect().head
        val resumeSecs = (System.nanoTime() - t0) / 1e9
        prior.unpersist(blocking = false)
        Seq("delta_edges" -> 50000L,
          "resume_secs" -> math.round(resumeSecs * 100.0) / 100.0,
          "n_nodes" -> agg.getLong(1),
          "n_components" -> agg.getLong(0))
      }
    }

    // ---- ONE CRAWL DAY as a SYSTEM, measured for the O(delta) claim:
    // the incremental operators (bucketed-corpus exact dedup,
    // signature-store near-dup, resumed PageRank, star-contraction
    // incremental components) composed into the day-N maintenance
    // pipeline, run TWICE — day 1 against a half-size standing state,
    // then the state DOUBLES (the "month" of ingests), then day 2 with
    // an identical-size delta. The claim under test: the day's
    // dedup/ingest/components stages cost O(delta), so day 2 ≈ day 1
    // even though the corpus doubled (rank refresh is O(union edges ×
    // 2 iters) by design — reported separately, honest about its
    // scaling). c5_crawl_delta hash-pins this composition's
    // correctness at gate scale; this step is its 100 TB cost story. --
    step("crawl_day") {
      val half = nDocs / 2
      val table = s"c5corpus_$nDocs"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // a prior PROCESS's run leaves the managed location on disk with
      // no entry in this session's in-memory catalog — saveAsTable
      // refuses the orphan dir, so reclaim it physically
      val whDir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), table)
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      if (whDir.exists()) rmrf(whDir)
      val sigDir = s"$dir/c5sig_$nDocs"
      def dEdges(ids: org.apache.spark.sql.DataFrame) = ids.select(
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("s"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("src"),
        concat(lit("d"), pmod(conv(substring(md5(concat(lit("t"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(500000L)).cast("string")).as("dst"),
        lit(1L).as("weight"))
      def persistCount(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      // ---- standing state at HALF: corpus + signatures + graph ----
      val d0 = docs.filter(col("doc_id") < half)
        .select(col("doc_id"), col("text"))
      val t0 = System.nanoTime()
      graft.pipelines.CorpusStore.ensure(spark, table, "doc_id", "text")
      graft.pipelines.CorpusStore.ingest(spark, table, d0, "doc_id",
        "text")
      graft.pipelines.SignatureStore.create(spark, sigDir, d0,
        "doc_id", "text")
      var prPrior = CacheScope.withScope { implicit sc =>
        persistCount(graft.operators.WebGraph.pageRank(dEdges(d0),
          iters = 5, damping = 0.85, localMaxEdges = 0L)
          .select(col("node"), col("rank_fp")))
      }
      var compPrior = CacheScope.withScope { implicit sc =>
        persistCount(graft.operators.WebGraph.components(dEdges(d0)))
      }
      val setupSecs = (System.nanoTime() - t0) / 1e9
      // ---- one day: 1% new docs + exact re-crawls + near re-crawls
      def day(tag: String, newLo: Long, sliceLo: Long)
          : Seq[(String, Double)] = {
        val dayN = math.max(10000L, nDocs / 100)
        // genuinely-new content: reversed text from a per-day slice —
        // new to the corpus (different shingles, different hash), not
        // a re-crawl of day-(N-1)'s additions
        val fresh = docs.filter(col("doc_id") >= sliceLo &&
            col("doc_id") < sliceLo + dayN)
          .select((col("doc_id") + newLo).as("doc_id"),
            reverse(coalesce(col("text"), lit(""))).as("text"))
        val recrawl = docs.filter(col("doc_id") % 50 === 0 &&
            col("doc_id") < half)
          .select((col("doc_id") + newLo + 2000000L).as("doc_id"),
            col("text"))
        val nears = docs.filter(col("doc_id") % 50 === 1 &&
            col("doc_id") < half)
          .select((col("doc_id") + newLo + 4000000L).as("doc_id"),
            concat(coalesce(col("text"), lit("")),
              lit(" crawl tail")).as("text"))
        val delta = persistCount(
          fresh.unionByName(recrawl).unionByName(nears))
        // (1) near-dup query BEFORE append (the d9 order), then append
        val t1 = System.nanoTime()
        val nNd = CacheScope.withScope { implicit sc =>
          graft.pipelines.SignatureStore.nearDups(spark, sigDir, delta,
            "doc_id", "text", minAgreement = 0.45,
            skipFullyCapped = true).count()
        }
        graft.pipelines.SignatureStore.append(spark, sigDir, delta,
          "doc_id", "text", tag)
        val sigSecs = (System.nanoTime() - t1) / 1e9
        // (2) bucketed exact-dedup ingest — corpus read IN PLACE
        val t2 = System.nanoTime()
        val (nAdded, nBatch) = graft.pipelines.CorpusStore.ingest(
          spark, table, delta, "doc_id", "text")
        val ingestSecs = (System.nanoTime() - t2) / 1e9
        // (3) graph maintenance: components contract O(nodes+delta);
        // rank resumes 2 iterations on the union
        val deltaE = dEdges(delta.select(col("doc_id")))
        val t3 = System.nanoTime()
        val newComp = CacheScope.withScope { implicit sc =>
          persistCount(graft.operators.WebGraph.componentsResume(
            deltaE, compPrior, localMaxEdges = 0L))
        }
        val compSecs = (System.nanoTime() - t3) / 1e9
        val unionE = dEdges(spark.table(table).select(col("doc_id")))
        val t4 = System.nanoTime()
        val newPr = CacheScope.withScope { implicit sc =>
          persistCount(graft.operators.WebGraph.pageRankResume(unionE,
            prPrior, iters = 2, damping = 0.85, localMaxEdges = 0L)
            .select(col("node"), col("rank_fp")))
        }
        val prSecs = (System.nanoTime() - t4) / 1e9
        compPrior.unpersist(blocking = false)
        prPrior.unpersist(blocking = false)
        compPrior = newComp
        prPrior = newPr
        delta.unpersist(blocking = false)
        Seq(s"${tag}_batch" -> nBatch.toDouble,
          s"${tag}_neardups" -> nNd.toDouble,
          s"${tag}_appended" -> nAdded.toDouble,
          s"${tag}_sig_secs" -> sigSecs,
          s"${tag}_ingest_secs" -> ingestSecs,
          s"${tag}_components_secs" -> compSecs,
          s"${tag}_rank2it_secs" -> prSecs,
          s"${tag}_odelta_secs" -> (sigSecs + ingestSecs + compSecs))
      }
      val day1 = day("day1", 10000000L, 0L)
      // ---- the state DOUBLES (second half lands as one big ingest)
      val tg = System.nanoTime()
      val d1 = docs.filter(col("doc_id") >= half)
        .select(col("doc_id"), col("text"))
      graft.pipelines.CorpusStore.ingest(spark, table, d1, "doc_id",
        "text")
      graft.pipelines.SignatureStore.append(spark, sigDir, d1,
        "doc_id", "text", "half2")
      val growSecs = (System.nanoTime() - tg) / 1e9
      val day2 = day("day2", 20000000L, math.max(10000L, nDocs / 100))
      val o1 = day1.find(_._1 == "day1_odelta_secs").get._2
      val o2 = day2.find(_._1 == "day2_odelta_secs").get._2
      compPrior.unpersist(blocking = false)
      prPrior.unpersist(blocking = false)
      (Seq("docs_day0" -> half.toDouble,
        "setup_secs" -> setupSecs,
        "grow_secs" -> growSecs) ++ day1 ++ day2 ++
        Seq("odelta_day2_over_day1" ->
          math.round(o2 / math.max(0.01, o1) * 100.0) / 100.0))
        .map { case (k, v) => k -> (math.round(v * 100.0) / 100.0) }
    }

    // ---- END-TO-END web graph: 5M REAL html pages → href extraction
    // (two regexp_extract_all passes over every page — the corpus-sized
    // cost, map-side) → registeredDomain on both ends → the distinct
    // (src, dst) groupBy → distributed PageRank over the EXTRACTED
    // graph (localMaxEdges = 0 forces the power-iteration path; the
    // Zipf page hosts make real hub sources). The pagerank step above
    // measures iteration cost on a synthetic edge list; this one
    // measures the whole html-to-ranks story. --------------------------
    step("webgraph") {
      CacheScope.withScope { implicit sc =>
        val nTargets = 50000L
        def dstDom(salt: String) = concat(lit("d"),
          pmod(conv(substring(md5(concat(lit(salt), col("doc_id"))),
            1, 15), 16, 10).cast("long"), lit(nTargets)), lit(".com"))
        val pages = docs.select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".com/p"),
            col("doc_id")).as("url"),
          concat(lit("<html><body><p>"), substring(col("text"), 1, 80),
            lit("</p><a href=\"https://"), dstDom("g1"),
            lit("/x\">read more</a><A HREF='https://"), dstDom("g2"),
            lit("/y'>refs</A>"),
            when(col("doc_id") % 2 === 0,
              concat(lit("<a href=\"https://"), dstDom("g3"),
                lit("/z\">see also</a>"))).otherwise(lit("")),
            lit("</body></html>")).as("html"))
        val t0 = System.nanoTime()
        val edges = sc.cache(
          graft.operators.WebGraph.domainEdges(pages, "url", "html"))
        val nEdges = edges.count()
        val extractSecs = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pr = graft.operators.WebGraph.pageRank(edges, iters = 10,
          damping = 0.85, localMaxEdges = 0L)
        val top = pr.orderBy(col("rank_fp").desc, col("node"))
          .limit(1).collect().head
        val agg = pr.agg(sum(col("rank_fp")), count(lit(1)))
          .collect().head
        val prSecs = (System.nanoTime() - t1) / 1e9
        Seq("n_pages" -> nDocs, "n_edges" -> nEdges,
          "n_nodes" -> agg.getLong(1),
          "extract_secs" -> math.round(extractSecs * 100.0) / 100.0,
          "pagerank_secs" -> math.round(prSecs * 100.0) / 100.0,
          "pages_per_sec" -> math.round(nDocs / extractSecs),
          "mass_retained" -> math.round(agg.getLong(0).toDouble /
            graft.operators.WebGraph.Scale * 10000.0) / 10000.0,
          "top_node" -> top.getString(0))
      }
    }

    // ---- inverted-index store: full-corpus postings build (~105M
    // posting rows at 5M docs through the (id, term) partial-agg
    // shuffle), then batched BM25 queries that must stay bucket-pruned.
    // Template tokens are mass-shared (df ~ nDocs/20), so the same 100
    // queries run both unpruned and with stop-term pruning engaged —
    // the delta IS the hot-posting-list tax the maxDfFrac lever buys
    // back -----------------------------------------------------------
    step("index") {
      val storeDir = s"$dir/idxstore_$nDocs"
      val seed = docs.filter(col("doc_id") % 100 =!= 0)
      val batch = docs.filter(col("doc_id") % 100 === 0)
      val t0 = System.nanoTime()
      graft.pipelines.IndexStore.create(spark, storeDir, seed,
        "doc_id", "text")
      val seedSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.pipelines.IndexStore.append(spark, storeDir, batch,
        "doc_id", "text", "b1")
      val appendSecs = (System.nanoTime() - t1) / 1e9
      val nPostings = spark.read.parquet(s"$storeDir/postings").count()
      // 100 queries: tokens 3-10 of each doc — 3 template tokens (hot,
      // df ≈ nDocs/20: the stop-term surface) + 5 tail tokens (df ≈
      // 300: the distinctive content), the realistic mixed-query shape
      val queries = docs.filter(col("doc_id") % (nDocs / 100) === 0)
        .limit(100)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"),
            3, 8)).as("qtext"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nQ = queries.count()
      val run = (frac: Double) => CacheScope.withScope { implicit scope =>
        val t = System.nanoTime()
        val res = graft.pipelines.IndexStore.bm25TopK(spark, storeDir,
          queries, "qid", "qtext", k = 10, maxDfFrac = frac)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = res.count()
        // self-retrieval: the query IS doc qid's own prefix, so qid
        // must appear in its own top-10 (prefix tokens are 5 of ~24)
        val selfHits = res.filter(col("id") === col("qid")).count()
        res.unpersist()
        ((System.nanoTime() - t) / 1e9, n, selfHits)
      }
      // 0.01 · 5M = 50k: template tokens (df ≈ 250k) are pruned, tail
      // tokens (df ≈ 300) survive — self-retrieval must hold either way
      val (fullSecs, nFull, selfFull) = run(1.0)
      val (prunedSecs, nPruned, selfPruned) = run(0.01)
      queries.unpersist()
      Seq("n_postings" -> nPostings, "seed_secs" -> seedSecs,
        "append_secs" -> appendSecs, "n_queries" -> nQ,
        "query_secs" -> fullSecs, "query_pruned_secs" -> prunedSecs,
        "rows_full" -> nFull, "rows_pruned" -> nPruned,
        "self_hits_full" -> selfFull, "self_hits_pruned" -> selfPruned)
    }

    println("STRESS_SUMMARY {" +
      results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(",") + "}")
    spark.stop()
  }

  /** Deterministic web-shaped corpus: boilerplate templates (each
    * shared by nDocs/nTemplates docs — its shingles' DF is the hot
    * posting-list surface), Zipfian sources, planted near-dups (mod 97)
    * and quotes (mod 101). All token material derives from xxhash64(id)
    * — no RNG, so every run and every engine sees the same corpus. */
  /** Raw-crawl wrap of the stress corpus (shared by web_pipeline and
    * end_to_end): copies are character-translated (template 'b' AND
    * tail 'w') so no 5-gram repeats across copies; the y1/y2 spacers
    * shift the copies' 4-token sentence phase so a trailing lexicon
    * token ("xdup") isn't period-mangled in every copy. */
  /** Power-law edge list shared by the graph steps (pagerank / hits /
    * trustrank / components), generated once per (dir, nEdges) —
    * quadratic-density targets make real hubs: in-degree(j) ∝
    * 1/sqrt(j). Every consumer calls this so STRESS_ONLY selective
    * reruns never depend on another step having run first. */
  private def ensurePagerankEdges(spark: SparkSession, dir: String,
      nEdges: Long): String = {
    val nNodes = math.max(1000L, nEdges / 10)
    val edgesPath = s"$dir/pagerank_edges_$nEdges.parquet"
    if (!new java.io.File(edgesPath).isDirectory) {
      spark.range(nEdges).select(
          pmod(conv(substring(md5(concat(lit("s"), col("id"))), 1, 15),
            16, 10).cast("long"), lit(nNodes)).as("us"),
          pmod(conv(substring(md5(concat(lit("t"), col("id"))), 1, 15),
            16, 10).cast("long"), lit(nNodes)).as("ut"))
        .select(concat(lit("d"), col("us")).as("src"),
          concat(lit("d"), expr(s"(ut * ut) div ${nNodes}L")).as("dst"),
          lit(1L).as("weight"))
        .filter(col("src") =!= col("dst"))
        .write.mode("overwrite").parquet(edgesPath)
    }
    edgesPath
  }

  private def rawWeb(docs: DataFrame): DataFrame = {
    val tripled = concat_ws(" ", col("text"), lit("y1"),
      translate(col("text"), "wb", "vc"), lit("y2"),
      translate(col("text"), "wb", "ud"),
      lit("the of and that have with be to end"))
    docs.select(col("doc_id"), col("source"),
      concat(lit("https://doc."), col("source"), lit(".com/"),
        col("doc_id").cast("string")).as("url"),
      concat(
        lit("<html><head><title>d</title><style>p{color:red}" +
          "</style><script>var x=1<2;</script></head><body>"),
        when(col("doc_id") % 5 === 0,
          lit("<!-- c --><p>&quot;q&#39; s</p>")).otherwise(lit("")),
        lit("<p>"),
        regexp_replace(tripled, lit("((?:\\S+ ){3}\\S+) "),
          lit("$1.</p><p>")),
        lit("</p><div>footer &nbsp;m</div></body></html>"))
        .as("html"))
  }

  def corpus(spark: SparkSession, nDocs: Long,
      nTemplates: Int = 20): DataFrame = {
    val ids = spark.range(nDocs).toDF("doc_id")
    // near-dups copy their neighbor's template+tail and append a token
    val tailSeed = when(col("doc_id") % 97 === 0 &&
      col("doc_id") % 101 =!= 0, col("doc_id") + 1)
      .otherwise(col("doc_id"))
    val template = concat_ws(" ", (1 to 5).map(t =>
      concat(lit(s"bp"), pmod(tailSeed, lit(nTemplates)), lit(s"x$t"))): _*)
    def tailTok(seed: org.apache.spark.sql.Column, i: Int) =
      concat(lit("w"), pmod(xxhash64(lit("t"), seed, lit(i)), lit(300000)))
    val tail = concat_ws(" ", (1 to 18).map(i => tailTok(tailSeed, i)): _*)
    val fullText = concat_ws(" ", template, tail,
      when(col("doc_id") % 97 === 0 && col("doc_id") % 101 =!= 0,
        lit("xdup")).otherwise(lit("")))
    // quotes: an 8-token excerpt of id+1's TAIL (contiguous, so every
    // quote shingle is inside the target's shingle set)
    val quoteText = concat_ws(" ",
      (3 to 10).map(i => tailTok(col("doc_id") + 1, i)): _*)
    // Zipf(1) over 1000 sources via inverse-CDF on a uniform md5 draw:
    // source k gets ~1/k of the mass (harmonic-normalized)
    val u = conv(substring(md5(concat(lit("s"), col("doc_id"))), 1, 12),
      16, 10).cast("double") / lit(math.pow(16.0, 12))
    val zipfRank = least(floor(exp(u * log(lit(1000.0)))), lit(999.0))
    ids.select(col("doc_id"),
      when(col("doc_id") % 101 === 0 && col("doc_id") + 1 < nDocs,
        quoteText).otherwise(fullText).as("text"),
      concat(lit("host"), zipfRank.cast("long")).as("source"))
  }

  /** Deterministic clustered 64-dim vectors: 1024 latent centers plus
    * small per-vector jitter, so IVF cells have real structure to find
    * (uniform vectors would make every cell equidistant and nprobe
    * recall meaningless). Every 89th vector is a planted near-dup: the
    * same DIRECTION as its neighbor scaled by 1.0005 (cosine 1.0 — the
    * rescaled-copy shape embedding dedup hunts). */
  def vectors(spark: SparkSession, nVecs: Long): DataFrame = {
    def u(tag: String, seed: org.apache.spark.sql.Column, i: Int) =
      pmod(xxhash64(lit(tag), seed, lit(i)), lit(10000)).cast("double") /
        lit(10000.0) - lit(0.5)
    val ids = spark.range(nVecs).toDF("vec_id")
    val seed = when(col("vec_id") % 89 === 0 &&
      col("vec_id") + 1 < nVecs, col("vec_id") + 1).otherwise(col("vec_id"))
    val center = pmod(seed, lit(1024))
    val scale = when(col("vec_id") % 89 === 0, lit(1.0005))
      .otherwise(lit(1.0))
    ids.select(col("vec_id"),
      array((0 until 64).map(j =>
        (u("c", center, j) + u("v", seed, j) * lit(0.15)) * scale): _*)
        .as("embedding"))
  }
}
