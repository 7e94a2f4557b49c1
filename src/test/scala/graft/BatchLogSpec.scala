package graft

import java.nio.file.Files

import graft.pipelines.{BatchLog, IndexStore, SignatureStore, VectorStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** One kill/replay drill for every store on the [[BatchLog]]: crash a
  * compaction after each of its commit ops (each table's data write,
  * the manifest rename, each vacuum delete), check the crashed store
  * answers exactly as before, replay, and check it still does with one
  * live compact dir per table. */
class BatchLogSpec extends SparkSpec {
  import spark.implicits._

  private def words(i: Int): String =
    (0 until 30).map(j => s"w${i}_$j").mkString(" ")

  private val texts = (1 to 12).map(i => (i.toLong, words(i % 5) +
    (if (i % 2 == 0) " spark shuffles" else " scans joins")))

  private def textBatch(ids: Range) =
    texts.filter(t => ids.contains(t._1.toInt)).toDF("id", "text")

  private val vectors = {
    val r = new scala.util.Random(3)
    (1L to 48L).map(i => (i, Seq.fill(8)(r.nextDouble() - 0.5)))
  }

  private def vecBatch(ids: Range) =
    vectors.filter(v => ids.contains(v._1.toInt)).toDF("vec_id", "embedding")

  /** A store under test: its tables, how to lay it down from three
    * batches, append one more, compact, and answer a fixed query. */
  private final case class Drill(name: String, tables: Seq[String],
      create: (String, Range) => Unit,
      append: (String, Range, String) => Unit,
      compact: String => Option[String],
      ask: (String, CacheScope) => Seq[Row])

  private val drills = Seq(
    Drill("SignatureStore", Seq("sigs", "bands"),
      (dir, ids) => SignatureStore.create(spark, dir, textBatch(ids),
        "id", "text"),
      (dir, ids, tag) => SignatureStore.append(spark, dir, textBatch(ids),
        "id", "text", tag),
      dir => SignatureStore.compact(spark, dir, vacuumAfter = true),
      (dir, scope) => SignatureStore.nearDups(spark, dir,
          Seq((901L, words(1)), (902L, words(3))).toDF("id", "text"),
          "id", "text")(scope)
        .orderBy("store_id", "batch_id").collect().toSeq),
    Drill("VectorStore", Seq("vectors"),
      (dir, ids) => VectorStore.create(spark, dir, vecBatch(ids),
        "vec_id", "embedding", nCells = 4, m = 4, ksub = 8, ivfIters = 2,
        pqIters = 2),
      (dir, ids, tag) => VectorStore.append(spark, dir, vecBatch(ids),
        "vec_id", "embedding", tag),
      dir => VectorStore.compact(spark, dir, vacuumAfter = true),
      (dir, _) => VectorStore.topK(spark, dir,
          vectors.take(3).map { case (i, v) => (i + 500L, v) }
            .toDF("qid", "qv"), "qid", "qv", k = 6, nprobe = 2)
        .orderBy("qid", "rank").collect().toSeq),
    Drill("IndexStore", Seq("postings", "stats"),
      (dir, ids) => IndexStore.create(spark, dir, textBatch(ids), "id",
        "text"),
      (dir, ids, tag) => IndexStore.append(spark, dir, textBatch(ids),
        "id", "text", tag),
      dir => IndexStore.compact(spark, dir, vacuumAfter = true),
      (dir, scope) => IndexStore.bm25TopK(spark, dir,
          Seq((100L, "spark shuffles"), (101L, "scans w3_4")).toDF("qid",
            "qtext"), "qid", "qtext", k = 5)(scope)
        .orderBy("qid", "rank").collect().toSeq))

  private def batchDirs(dir: String, table: String): Seq[String] =
    new java.io.File(s"$dir/$table").listFiles().map(_.getName)
      .filter(_.startsWith("b=")).toSeq.sorted

  drills.foreach { d =>
    test(s"kill/replay drill (${d.name}): a compact crashed after every " +
        "commit op answers identically and replays to one compact dir") {
      // the drilled compaction folds a committed compact dir with a new
      // batch, so it has both kinds of source
      val base = Files.createTempDirectory(s"graft_drill_${d.name}")
        .toString
      val step = if (d.name == "VectorStore") 12 else 3
      d.create(base, 1 to step)
      d.append(base, step + 1 to 2 * step, "b1")
      d.append(base, 2 * step + 1 to 3 * step, "b2")
      assert(d.compact(base).nonEmpty)
      d.append(base, 3 * step + 1 to 4 * step, "b3")
      // every query in its own scope: paths are rewritten between reads
      def ask(dir: String): Seq[Row] =
        CacheScope.withScope(scope => d.ask(dir, scope))
      val before = ask(base)
      assert(before.nonEmpty)
      val fs = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      // ops: one write per table, the manifest, and one delete per
      // table for each retired source (the old compact dir and b3)
      val ops = 3 * d.tables.size + 1
      (1 to ops + 1).foreach { k =>
        val dir = s"$base-k$k"
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(base), fs,
          new org.apache.hadoop.fs.Path(dir), false,
          spark.sparkContext.hadoopConfiguration)
        val crash = scala.util.Try(BatchLog.crashAfter(k)(d.compact(dir)))
        if (k <= ops) {
          assert(crash.failed.toOption.exists(_.getMessage.contains(
            s"injected crash after commit op $k ")), s"boundary $k: $crash")
          assert(ask(dir) === before, s"boundary $k answered differently")
          d.compact(dir) // replay
        } else assert(crash.isSuccess && crash.get.nonEmpty,
          s"compact took more than $ops commit ops")
        assert(ask(dir) === before, s"boundary $k: replay answered " +
          "differently")
        val live = d.tables.map(t => batchDirs(dir, t))
        assert(live.distinct.size === 1 && live.head.size === 2 &&
          live.head.head.startsWith("b=compact-") &&
          live.head.last === "b=seed",
          s"boundary $k: live batch dirs per table $live")
      }
    }
  }

  test("create resets a store's manifests: a tag the old store retired " +
      "is a fresh tag in the new one") {
    val dir = Files.createTempDirectory("graft_drill_reset").toString
    VectorStore.create(spark, dir, vecBatch(1 to 16), "vec_id",
      "embedding", nCells = 4, m = 4, ksub = 8, ivfIters = 2, pqIters = 2)
    VectorStore.append(spark, dir, vecBatch(17 to 32), "vec_id",
      "embedding", "b1")
    VectorStore.append(spark, dir, vecBatch(33 to 48), "vec_id",
      "embedding", "b2")
    assert(VectorStore.compact(spark, dir).nonEmpty)
    VectorStore.createSeeded(spark, dir, vecBatch(1 to 16), "vec_id",
      "embedding", nCells = 4, m = 4, ksub = 8, pqIters = 2)
    VectorStore.append(spark, dir, vecBatch(17 to 32), "vec_id",
      "embedding", "b1")
    val seen = VectorStore.topK(spark, dir,
        vecBatch(17 to 17).toDF("qid", "qv"), "qid", "qv", k = 1,
        nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(seen === Seq(17L), "the re-created store hid batch b1")
    assert(!new java.io.File(s"$dir/compactions").exists())
  }
}
