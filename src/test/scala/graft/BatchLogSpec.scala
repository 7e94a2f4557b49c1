package graft

import java.nio.file.Files

import graft.ops.IncrementalAgg.Measure
import graft.pipelines.{BatchLog, IndexStore, Pipelines, SignatureStore,
  TokenizerStore, VectorStore}
import graft.sources.Layout
import graft.streaming.StreamingSummary
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** One kill/replay drill for every store on the [[BatchLog]]: crash a
  * compaction after each of its commit ops (each table's data write,
  * the manifest rename, each vacuum delete), check the crashed store
  * answers exactly as before, replay, and check it still does with one
  * live compact dir per table. The same drill covers every user of
  * [[BatchLog.replaceDir]]: crashed after each step, a reader sees the
  * old content before the commit point and the new content after it,
  * and a replay ends where an uncrashed run does. */
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

  // ---- every BatchLog.replaceDir user ------------------------------------

  /** A whole-directory rewrite under test: `setup` lays down the state
    * under a fresh root, `run` rewrites it, and `read` answers from it
    * the way a reader does (recovering first), one answer per replaced
    * dir. `commits` holds each dir's commit op, in `run`'s order, and
    * `ops` the number of commit ops `run` takes. `check` gets the
    * answers before and after an uncrashed run. */
  private final case class Replace(name: String, ops: Int,
      commits: Seq[Int], setup: String => Unit, run: String => Unit,
      read: String => Seq[Seq[Row]],
      check: (Seq[Seq[Row]], Seq[Seq[Row]]) => Unit = (_, _) => ())

  private def sourceDbAt(root: String): Pipelines.SourceDb = {
    def t(n: String) = spark.read.parquet(s"$root/source/$n")
    Pipelines.SourceDb(t("products"), t("stores"), t("distributors"),
      t("dates"), t("facts"))
  }

  private def loadDw(root: String): Unit =
    Pipelines.loadIncoming(spark, sourceDbAt(root), root,
      s"$root/incoming/sales_snapshot") match {
      case _: Pipelines.Loaded => ()
      case other => fail(s"expected Loaded, got $other")
    }

  /** A parquet table read after `recoverDir`, rows in `order`. */
  private def recovered(path: String, order: String): Seq[Row] = {
    assert(BatchLog.recoverDir(spark, path), s"$path has no live dir")
    spark.read.parquet(path).orderBy(order).collect().toSeq
  }

  private val snowflake = Seq("category", "sub_category", "manufacturer")

  private def snowflakeSnapshot(ids: Range) =
    ids.map(i => (s"cat$i", s"sub$i", s"man$i")).toDF(snowflake: _*)

  private val month = "p_month=202401"

  private def monthRows(ids: Range) =
    spark.range(ids.start.toLong, ids.end.toLong + 1).select(col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 28).cast("int"))
        .as("d"))

  private val summaryMeasures = Seq(Measure("sum_x", "x", "sum"))

  private def summaryDelta(i: Int) =
    spark.range(40).select((col("id") % 3).as("g"),
      (col("id") * (i + 1)).cast("double").as("x"))

  /** Land one delta as a single flat parquet file of the stream's dir. */
  private def landDelta(root: String, i: Int): Unit = {
    summaryDelta(i).coalesce(1).write.parquet(s"$root/tmp_$i")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/deltas"))
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/tmp_$i"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(fs.rename(part,
      new org.apache.hadoop.fs.Path(s"$root/deltas/b$i.parquet")))
  }

  private def maintainSummary(root: String): Unit =
    StreamingSummary.maintainFromFiles(spark, s"$root/deltas",
      summaryDelta(0).schema, s"$root/ckpt", s"$root/summary", Seq("g"),
      summaryMeasures)

  private val replaces = Seq(
    Replace("DW fact load", ops = 4, commits = Seq(2),
      setup = { root =>
        val day1 = Pipelines.sourceLoad(spark, root, nFacts = 120,
          dateId = 20240115)
        Pipelines.extract(spark, day1, root)
        loadDw(root)
        // next day: new facts only, so every incoming row is an INSERT
        Pipelines.extract(spark, Pipelines.sourceLoad(spark, root,
          nFacts = 90, dateId = 20240116), root)
      },
      run = loadDw,
      read = root => Seq(recovered(s"$root/dw/fact_sales", "fact_key")),
      check = { (before, after) =>
        val (b, a) = (before.head, after.head)
        val key = (r: Row) => r.getAs[Long]("fact_key")
        assert(a.size > b.size)
        assert(b.toSet.subsetOf(a.toSet), "history dropped")
        assert(b.map(key) === (1L to b.size),
          "day-1 keys are dense 1..N")
        assert((a.toSet -- b).toSeq.map(key).sorted ===
          (b.size + 1L to a.size), "fact_key restarted")
      }),
    Replace("snowflake dims", ops = 12, commits = Seq(2, 6, 10),
      setup = root => Pipelines.maintainSnowflakeDims(spark, root,
        snowflakeSnapshot(1 to 2)),
      run = root => Pipelines.maintainSnowflakeDims(spark, root,
        snowflakeSnapshot(1 to 4)),
      read = root => snowflake.map(c =>
        recovered(s"$root/dw/dim_$c", "key"))),
    Replace("Layout compaction", ops = 4, commits = Seq(2),
      setup = { root =>
        Layout.writeMonthPartitioned(monthRows(1 to 100), "d",
          s"$root/fact")
        (1 to 4).foreach(i => Layout.appendMonth(
          monthRows(100 * i + 1 to 100 * i + 10), "d", s"$root/fact"))
      },
      run = root => Layout.compactPartition(spark, s"$root/fact", month),
      read = { root =>
        val rows = Layout.read(spark, s"$root/fact")
          .filter(col("p_month") === 202401).orderBy("id").collect().toSeq
        val files = new java.io.File(s"$root/fact/$month").list()
          .count(_.endsWith(".parquet"))
        Seq(Row(files) +: rows)
      }),
    Replace("StreamingSummary fold", ops = 2, commits = Seq(2),
      setup = { root =>
        landDelta(root, 0)
        maintainSummary(root)
        landDelta(root, 1)
      },
      run = maintainSummary,
      read = root => Seq(StreamingSummary.current(spark, s"$root/summary")
        .get.orderBy("g").collect().toSeq)),
    Replace("TokenizerStore re-save", ops = 4, commits = Seq(2),
      setup = { root =>
        val wf = graft.operators.TextAnalysis.bpeWordFreq(
          textBatch(1 to 6), "text")
        TokenizerStore.save(spark, s"$root/tok", "bpe",
          graft.operators.TextAnalysis.bpeTrainLocal(wf, nMerges = 3),
          alphabet = Some(graft.operators.TextAnalysis.bpeAlphabet(wf)
            .toDF("sym")))
      },
      // re-save the model loaded from the same store, as another family
      run = root => TokenizerStore.save(spark, s"$root/tok", "bpe-byte",
        TokenizerStore.loadModel(spark, s"$root/tok")),
      read = { root =>
        val family = TokenizerStore.family(spark, s"$root/tok")
        val alphabet = new java.io.File(s"$root/tok/alphabet").exists()
        Seq(Row(family, alphabet) +: TokenizerStore
          .loadMerges(spark, s"$root/tok").map { case (l, r) => Row(l, r) })
      }))

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def leftovers(dir: java.io.File): Seq[String] =
    dir.listFiles().toSeq.flatMap { f =>
      (if (f.getName.endsWith("__staging") || f.getName.endsWith("__old"))
        Seq(f.getPath) else Nil) ++
        (if (f.isDirectory) leftovers(f) else Nil)
    }

  replaces.foreach { d =>
    test(s"kill/replay drill (${d.name}): a directory replace crashed " +
        "after every commit op reads old before its commit point, new " +
        "after it, and replays to the uncrashed result") {
      val base = Files.createTempDirectory("graft_replace").toString
      def fresh(tag: String): String = {
        val root = s"$base/$tag"
        d.setup(root)
        root
      }
      val clean = fresh("clean")
      val before = d.read(clean)
      d.run(clean)
      val after = d.read(clean)
      assert(before.size === d.commits.size)
      before.zip(after).foreach { case (b, a) =>
        assert(b !== a, "the drilled run changes nothing") }
      d.check(before, after)
      (1 to d.ops + 1).foreach { k =>
        val root = fresh(s"k$k")
        val crash = scala.util.Try(BatchLog.crashAfter(k)(d.run(root)))
        if (k <= d.ops) {
          assert(crash.failed.toOption.exists(causes(_).exists(e =>
            String.valueOf(e.getMessage).contains(
              s"injected crash after commit op $k "))),
            s"boundary $k: $crash")
          val seen = d.read(root)
          d.commits.zipWithIndex.foreach { case (c, i) =>
            assert(seen(i) === (if (k >= c) after(i) else before(i)),
              s"boundary $k: dir $i read the wrong side of its commit")
          }
          d.run(root) // replay
        } else assert(crash.isSuccess,
          s"the run took more than ${d.ops} commit ops: $crash")
        assert(d.read(root) === after, s"boundary $k: replay differs")
        assert(leftovers(new java.io.File(root)).isEmpty,
          s"boundary $k: ${leftovers(new java.io.File(root))}")
      }
    }
  }
}
