package graft.pipelines

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** The one batch log behind every append-only persisted store
  * ([[SignatureStore]], [[VectorStore]], [[IndexStore]]): the paper's
  * stage → MERGE → commit re-runnability (`load_fact_sales_dw.py`, see
  * [[Pipelines.loadIncoming]]) written once, with the metadata commit
  * kept apart from the columnar data as in Dremel's manifest log.
  *
  * Layout under a store's `dir`, for each of its tables:
  *   <table>/b=<tag>/      — one batch; `seed` from create, any
  *                           dir-safe tag from append, `compact-<digest>`
  *                           from [[compact]]
  *   compactions/<tag>.list — one manifest per committed compaction:
  *                           the source batches it retired
  *
  * Appends write `b=<tag>` with OVERWRITE, so replaying a batch (a
  * crashed foreachBatch, a backfill retry) replaces it instead of
  * double-appending. A tag a committed manifest retired is rejected:
  * rows under it would be invisible forever.
  *
  * Visibility ([[read]]): a batch named in a manifest is retired; a
  * `compact-*` dir without a manifest is an uncommitted orphan and is
  * invisible. Both predicates sit on the `b` partition column, so
  * hidden dirs prune at planning and are never listed into a scan.
  *
  * [[compact]] folds every live non-seed batch — committed compact
  * dirs included, so at most one compact dir stays live — into one:
  *   1. each table's rows copy into `b=compact-<digest>` through the
  *      store's own per-table writer (invisible: no manifest yet);
  *   2. the manifest lands via tmp + ATOMIC rename — the commit point:
  *      every table switches generation in that one step;
  *   3. [[vacuum]] deletes retired dirs, any time, idempotently.
  * The digest is a pure function of the sorted source names, so a
  * retry after a crash before (2) rewrites the same orphan path; a
  * crash after (2) only delays the reclaim. Every one of those steps
  * is a commit op the kill/replay drill (BatchLogSpec) crashes after.
  *
  * Maintenance is not concurrency-safe with appends to the same store:
  * quiesce ingestion before compacting.
  */
private[graft] final class BatchLog(store: String, tables: Seq[String]) {
  import BatchLog._

  def path(dir: String, table: String, tag: String): String =
    s"$dir/$table/b=$tag"

  /** Drop every table and every manifest: a store re-created at the
    * same path must not inherit a manifest that retires a fresh tag. */
  def reset(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    (tables :+ Manifests).foreach(t => fs.delete(new Path(s"$dir/$t"), true))
  }

  /** Raise unless `tag` may be appended: non-empty, dir-safe, not
    * `seed`, not `compact-*`, not retired by a committed compaction. */
  def checkAppendTag(spark: SparkSession, dir: String, tag: String): Unit = {
    require(tag.nonEmpty && tag != Seed && !tag.startsWith(CompactPrefix) &&
      tag.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"$store.append: batchTag must be a non-'seed', non-'compact-*' " +
        s"dir-safe token: '$tag'")
    require(!manifests(spark, dir).retired(tag),
      s"$store.append: batch tag '$tag' was retired by a committed " +
        "compaction manifest — rows written under it would be invisible " +
        "to every read and reclaimed by vacuum(); use a fresh tag")
  }

  /** The visible batches of `table` (column `b` names the batch). */
  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val m = manifests(spark, dir)
    val raw = spark.read.parquet(s"$dir/$table")
    val live =
      if (m.retired.isEmpty) raw
      else raw.filter(!col("b").isin(m.retired.toSeq: _*))
    val isCompact = col("b").startsWith(CompactPrefix)
    if (m.committed.isEmpty) live.filter(!isCompact)
    else live.filter(!isCompact || col("b").isin(m.committed.toSeq: _*))
  }

  /** Fold every live non-seed batch into one committed compact batch.
    * `copy(table, rows)` turns one table's source rows (without `b`)
    * into the writer for its compact dir; the log adds the overwrite
    * mode and the path. Returns the committed tag, or None when fewer
    * than two batches qualify. `vacuumAfter` vacuums in both cases, so
    * replaying a compact that crashed after its commit reclaims too. */
  def compact(spark: SparkSession, dir: String, vacuumAfter: Boolean)(
      copy: (String, DataFrame) => DataFrameWriter[Row]): Option[String] = {
    val fs = fsOf(spark, dir)
    val m = manifests(spark, dir)
    val candidates = fs.listStatus(new Path(s"$dir/${tables.head}"))
      .map(_.getPath.getName).filter(_.startsWith("b="))
      .map(_.stripPrefix("b=")).toSeq
      .filter(b => b != Seed && !m.retired(b) &&
        (!b.startsWith(CompactPrefix) || m.committed(b)))
      .sorted
    val committed =
      if (candidates.size < 2) None
      else {
        val sources = candidates.mkString("\n").getBytes("UTF-8")
        val tag = CompactPrefix + java.security.MessageDigest
          .getInstance("MD5").digest(sources)
          .map(b => f"$b%02x").mkString.take(16)
        // sources read by explicit path with basePath anchoring partition
        // discovery, so the write target never overlaps a read root
        tables.foreach { t =>
          op(s"wrote $t/b=$tag") {
            StoreMeta.oneJobWrite(spark) {
              copy(t, spark.read.option("basePath", s"$dir/$t")
                  .parquet(candidates.map(path(dir, t, _)): _*).drop("b"))
                .mode("overwrite").parquet(path(dir, t, tag))
            }
          }
        }
        val mdir = new Path(s"$dir/$Manifests")
        fs.mkdirs(mdir)
        val tmp = new Path(mdir, s".tmp_$tag")
        val out = fs.create(tmp, true)
        try out.write(sources) finally out.close()
        val dest = new Path(mdir, s"$tag.list")
        op(s"committed $tag") {
          // a FALSE rename is a commit only if the manifest is already
          // there (a retry of the same sources lands on the same name)
          if (!fs.rename(tmp, dest) && !fs.exists(dest))
            throw new java.io.IOException(
              s"$store.compact: manifest commit failed for $tag (rename " +
                "returned false and no manifest exists) — the store still " +
                "reads the source batches; retry compact()")
        }
        Some(tag)
      }
    if (vacuumAfter) vacuum(spark, dir, deleteOrphans = false)
    committed
  }

  /** Delete every batch dir a committed manifest retired, in every
    * table. `deleteOrphans` also deletes uncommitted `compact-*` dirs
    * (a crashed compact whose candidate set changed before its retry);
    * it races a compact in flight, so use it only when none runs. */
  def vacuum(spark: SparkSession, dir: String,
      deleteOrphans: Boolean): Unit = {
    val fs = fsOf(spark, dir)
    val m = manifests(spark, dir)
    tables.foreach { t =>
      val root = new Path(s"$dir/$t")
      val retired = m.retired.toSeq.sorted
        .map(b => new Path(path(dir, t, b))).filter(fs.exists)
      val orphans =
        if (!deleteOrphans || !fs.exists(root)) Nil
        else fs.listStatus(root).map(_.getPath).toSeq.filter { p =>
          p.getName.startsWith(s"b=$CompactPrefix") &&
            !m.committed(p.getName.stripPrefix("b="))
        }
      (retired ++ orphans).foreach(p => op(s"deleted $p") {
        fs.delete(p, true); ()
      })
    }
  }

  private def manifests(spark: SparkSession, dir: String): Log = {
    val mdir = new Path(s"$dir/$Manifests")
    val fs = fsOf(spark, dir)
    if (!fs.exists(mdir)) return Log(Set.empty, Set.empty)
    val entries = fs.listStatus(mdir).map(_.getPath)
      .filter(p => p.getName.endsWith(".list") && !p.getName.startsWith("."))
    val retired = entries.flatMap { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    Log(entries.map(_.getName.stripSuffix(".list")).toSet, retired.toSet)
  }
}

private[graft] object BatchLog {

  /** The tag [[BatchLog.compact]] never folds: a store's create batch. */
  val Seed = "seed"
  private val CompactPrefix = "compact-"
  private val Manifests = "compactions"

  /** Committed compact tags and the source batches they retired. */
  private final case class Log(committed: Set[String], retired: Set[String])

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace the plain dir `path` whole — the commit of every table
    * rewritten in full, not appended to (the DW fact and snowflake
    * dims, a compacted Layout partition, a StreamingSummary version,
    * a TokenizerStore):
    *   1. `write` fills the sibling `.<name>__staging` (a leading dot:
    *      partition discovery still lists `_` names that contain `=`);
    *   2. live is renamed to `.<name>__old` — the commit point (a
    *      first write has no live dir and skips it);
    *   3. staging is renamed to live; 4. old is deleted.
    * Starts with [[recoverDir]]. Live stays whole until staging is
    * complete, so `write` may read it. Single writer per path. */
  def replaceDir(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val (live, staging, old) = swapPaths(path)
    recoverDir(spark, path)
    op(s"wrote $staging")(write(staging.toString))
    if (fs.exists(live)) op(s"renamed $live out")(rename(fs, live, old))
    op(s"renamed $staging in")(rename(fs, staging, live))
    if (fs.exists(old)) op(s"deleted $old") { fs.delete(old, true); () }
  }

  /** Finish or undo a crashed [[replaceDir]]; readers call it first.
    * An old dir means the commit point passed (old moves out only once
    * staging is complete): roll a missing live forward from staging,
    * then drop old. Otherwise drop any leftover staging. Returns
    * whether the live dir exists. */
  def recoverDir(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    val (live, staging, old) = swapPaths(path)
    if (fs.exists(old)) {
      if (!fs.exists(live)) rename(fs, staging, live)
      fs.delete(old, true)
    } else if (fs.exists(staging)) fs.delete(staging, true)
    fs.exists(live)
  }

  private def swapPaths(path: String): (Path, Path, Path) = {
    val live = new Path(path)
    def sibling(suffix: String) =
      new Path(live.getParent, s".${live.getName}$suffix")
    (live, sibling("__staging"), sibling("__old"))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"BatchLog: renaming $from to $to failed")

  private final class Budget(val ops: Int) { var done = 0 }
  private val budget = new scala.util.DynamicVariable[Option[Budget]](None)

  /** Crash seam for the kill/replay drill: run `body`, throwing after
    * its `ops`-th commit op (a compact table write, the manifest
    * rename, one vacuum delete, or one [[replaceDir]] step). The
    * budget is inherited by threads `body` starts, such as a
    * streaming query's micro-batch thread. */
  private[graft] def crashAfter[T](ops: Int)(body: => T): T =
    budget.withValue(Some(new Budget(ops)))(body)

  private def op(what: String)(f: => Unit): Unit = {
    f
    budget.value.foreach { b =>
      b.done += 1
      if (b.done == b.ops) throw new IllegalStateException(
        s"BatchLog: injected crash after commit op ${b.done} ($what)")
    }
  }
}
