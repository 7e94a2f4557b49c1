package graft

import java.nio.file.Files

import graft.operators.TextAnalysis
import graft.pipelines.IndexStore
import org.apache.spark.sql.functions._

class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  // small vocabulary with deliberate overlap so df/idf/dl all vary
  private val corpus = Seq(
    (1L, "spark shuffles data between stages"),
    (2L, "spark broadcasts small tables"),
    (3L, "duckdb vectorizes scans"),
    (4L, "spark spark spark everywhere spark"),
    (5L, "broadcast joins avoid shuffles in spark"),
    (6L, "scans and joins and scans"),
    (7L, ""),                                  // token-free doc: counts
    (8L, "stages of a shuffle join")           //   in n_docs, not dl
  )

  private def queriesDf = Seq(
    (100L, "spark shuffles"),
    (101L, "scans joins")
  ).toDF("qid", "qtext")

  test("store-backed bm25 equals the one-shot bm25TopK over the " +
      "union of batches, rank for rank and micro for micro") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val docs = corpus.toDF("id", "text")
    IndexStore.create(spark, dir, docs.filter($"id" <= 4), "id", "text")
    IndexStore.append(spark, dir, docs.filter($"id" > 4), "id", "text",
      "b1")
    val fromStore = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
        "qtext", k = 4)
      .orderBy($"qid", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val oneShot = TextAnalysis.bm25TopK(docs, "id", "text", queriesDf,
        "qid", "qtext", k = 4)
      .orderBy($"qid", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(fromStore.nonEmpty && fromStore.sameElements(oneShot),
      s"store=${fromStore.toSeq} oneShot=${oneShot.toSeq}")
  }

  test("same-tag re-append replaces (idempotent retry): df and scores " +
      "stay single-counted") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val docs = corpus.toDF("id", "text")
    IndexStore.create(spark, dir, docs.filter($"id" <= 4), "id", "text")
    IndexStore.append(spark, dir, docs.filter($"id" > 4), "id", "text",
      "b1")
    val once = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
      "qtext", k = 4).orderBy($"qid", $"rank").collect().toSeq
    IndexStore.append(spark, dir, docs.filter($"id" > 4), "id", "text",
      "b1")
    val twice = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
      "qtext", k = 4).orderBy($"qid", $"rank").collect().toSeq
    assert(once === twice)
  }

  test("maxDfFrac prunes stop terms: a term in every doc stops " +
      "contributing, content terms still score") {
    val dir = Files.createTempDirectory("graft_idx").toString
    // "the" appears in all 4 docs; "falcon" in one
    val docs = Seq(
      (1L, "the falcon dives"), (2L, "the owl waits"),
      (3L, "the crow calls"), (4L, "the wren sings"))
      .toDF("id", "text")
    IndexStore.create(spark, dir, docs, "id", "text")
    val q = Seq((1L, "the falcon")).toDF("qid", "qtext")
    val full = IndexStore.bm25TopK(spark, dir, q, "qid", "qtext", k = 4)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    val pruned = IndexStore.bm25TopK(spark, dir, q, "qid", "qtext",
        k = 4, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    // with "the" pruned only doc 1 (falcon) scores at all
    assert(pruned.keySet === Set(1L), s"pruned=$pruned")
    // and its score dropped by exactly "the"'s contribution
    assert(pruned(1L) < full(1L))
    assert(full.keySet === Set(1L, 2L, 3L, 4L))
  }

  test("streaming ingest drains files; store answers match a " +
      "from-scratch index over everything ingested") {
    val root = Files.createTempDirectory("graft_idxstream").toString
    val dir = s"$root/store"
    val in = s"$root/in"
    val docs = corpus.toDF("id", "text")
    IndexStore.create(spark, dir, docs.filter($"id" <= 4), "id", "text")
    // two pending files of the remaining docs, drained one per batch
    docs.filter($"id" === 5 || $"id" === 6).coalesce(1)
      .write.parquet(s"$in/f1")
    docs.filter($"id" === 7 || $"id" === 8).coalesce(1)
      .write.parquet(s"$in/f2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    IndexStore.ingestStream(spark, dir, stream, "id", "text",
      s"$root/ckpt")
    val fromStore = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
      "qtext", k = 4).orderBy($"qid", $"rank").collect().toSeq
    val oneShot = graft.operators.TextAnalysis.bm25TopK(docs, "id",
      "text", queriesDf, "qid", "qtext", k = 4)
      .orderBy($"qid", $"rank").collect().toSeq
    assert(fromStore === oneShot)
  }

  test("bm25_store_topk TVF: SQL text answers from the persisted " +
      "index, equal to the Scala API") {
    val dir = Files.createTempDirectory("graft_idxsql").toString
    val docs = corpus.toDF("id", "text")
    IndexStore.create(spark, dir, docs, "id", "text")
    val got = spark.sql(s"SELECT rank, id, score FROM bm25_store_topk(" +
      s"'$dir', 'spark shuffles', 3) ORDER BY rank").collect().toSeq
    val want = IndexStore.bm25TopK(spark, dir,
        Seq((0L, "spark shuffles")).toDF("qid", "qtext"), "qid",
        "qtext", k = 3)
      .select($"rank", $"id", $"score").orderBy($"rank").collect().toSeq
    assert(got === want && got.nonEmpty)
    // the stop-term cap is reachable from SQL as the optional 4th
    // argument — same lever the Scala API exposes (the 5M stress
    // showed 104 s → 27.8 s at 0.01); equal to the Scala call with
    // the same cap
    val gotCap = spark.sql(s"SELECT rank, id, score FROM " +
      s"bm25_store_topk('$dir', 'spark shuffles', 3, 0.5) " +
      "ORDER BY rank").collect().toSeq
    val wantCap = IndexStore.bm25TopK(spark, dir,
        Seq((0L, "spark shuffles")).toDF("qid", "qtext"), "qid",
        "qtext", k = 3, maxDfFrac = 0.5)
      .select($"rank", $"id", $"score").orderBy($"rank").collect().toSeq
    assert(gotCap === wantCap)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM bm25_store_topk('$dir', 'q', 1 + 1)")
        .collect()
    }
  }

  test("compact folds every non-seed batch into one dir; queries are " +
      "unchanged") {
    val dir = Files.createTempDirectory("graft_idxcomp").toString
    val docs = corpus.toDF("id", "text")
    IndexStore.create(spark, dir, docs.filter($"id" <= 3), "id", "text")
    IndexStore.append(spark, dir, docs.filter($"id" === 4 || $"id" === 5),
      "id", "text", "b1")
    IndexStore.append(spark, dir, docs.filter($"id" > 5), "id", "text",
      "b2")
    val before = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
      "qtext", k = 4).orderBy($"qid", $"rank").collect().toSeq
    val tag = IndexStore.compact(spark, dir, vacuumAfter = true)
    assert(tag.exists(_.startsWith("compact-")))
    // the seed is never folded: postings and stats both hold it plus
    // the one compact batch, and the two stats rows sum to the totals
    Seq("postings", "stats").foreach { t =>
      val batchDirs = new java.io.File(s"$dir/$t").listFiles()
        .map(_.getName).filter(_.startsWith("b=")).toSeq.sorted
      assert(batchDirs === Seq(s"b=${tag.get}", "b=seed"), t)
    }
    assert(spark.read.parquet(s"$dir/stats").count() === 2L)
    val after = IndexStore.bm25TopK(spark, dir, queriesDf, "qid",
      "qtext", k = 4).orderBy($"qid", $"rank").collect().toSeq
    assert(after === before)
    // one live compact batch plus the seed: nothing left to fold
    assert(IndexStore.compact(spark, dir) === None)
    val e = intercept[IllegalArgumentException] {
      IndexStore.append(spark, dir, docs.filter($"id" > 5), "id", "text",
        "b2")
    }
    assert(e.getMessage.contains("retired"))
  }

  test("bucket pruning: a query's postings scan reads only the " +
      "buckets its terms hash into") {
    val dir = Files.createTempDirectory("graft_idx").toString
    IndexStore.create(spark, dir, corpus.toDF("id", "text"), "id",
      "text", nBuckets = 64)
    val q = Seq((1L, "falconless")).toDF("qid", "qtext") // unseen term
    // unseen term: its bucket exists or not, but no foreign bucket may
    // contribute — result must be empty, not low-scored noise
    val got = IndexStore.bm25TopK(spark, dir, q, "qid", "qtext", k = 3)
    assert(got.count() === 0L)
    // and a real query touches at most one bucket dir per distinct term
    val q2 = Seq((2L, "spark shuffles")).toDF("qid", "qtext")
    val n = IndexStore.bm25TopK(spark, dir, q2, "qid", "qtext", k = 3)
      .queryExecution.executedPlan.toString()
    // partition filter must be present on the postings scan
    assert(n.contains("bkt"), "expected a bkt partition filter in plan")
  }
}
