package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also writes `digests.json`: a per-query sha256 over the
  * sorted-canonical rows of each result. The driver's compare is a
  * black box — when a cell goes red there with no local repro, the
  * digest pins whether the SPARK OUTPUT changed between environments
  * (digest differs) or the oracle/canonicalization side diverged
  * (digest identical), which is exactly the diagnosis that took two
  * rounds for cu3. Digests are stable across column order (columns
  * sorted by name) and row order (rows sorted), like the driver's hash.
  */
object Verify {

  /** Canonical scalar rendering: type-stable and engine-portable.
    * Doubles via java.lang.Double.toString (shortest round-trip repr),
    * decimals via toPlainString, binary as hex, containers recursive.
    * Null renders with a leading NUL escape so it can never collide
    * with a real string value "NULL". */
  def canon(v: Any): String = v match {
    case null => "\u0000NULL"
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  /** sha256 hex of the sorted canonical rows, columns sorted by name.
    * Fields join on a unit separator — without one, value shifts
    * across adjacent string columns (("ab","c") vs ("a","bc")) hash
    * identically and mask a real output change. */
  def digest(df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    val rows = df.select(cols.toIndexedSeq: _*).collect()
      .map(_.toSeq.map(canon).mkString("\u001f"))
    java.util.Arrays.sort(rows.asInstanceOf[Array[Object]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    (md.digest().map(b => f"$b%02x").mkString, rows.length.toLong)
  }

  /** Dump each query's result to `outDir/<name>` parquet; returns
    * (digest-json-per-query, first-error-line-per-failed-query). Split out
    * of main so a spec can induce a failure and prove the errors artifact. */
  def dumpAll(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)])
      : (collection.SeqMap[String, String], collection.SeqMap[String, String]) = {
    val digests = scala.collection.mutable.LinkedHashMap[String, String]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try {
        // per-query CacheScope bracket (same reason as Bench): 150
        // queries' internal signature/tf caches must not accumulate
        // MEMORY_AND_DISK frames across the whole dump
        CacheScope.withScope { _ =>
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        // digest what was WRITTEN (post-parquet round-trip), so any
        // writer-side type narrowing is inside the fingerprint too
        val (d, n) = digest(spark.read.parquet(s"$outDir/$name"))
        digests(name) = s"""{"digest":"$d","rows":$n}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        digests(name) = s"""{"digest":null,"rows":-1}"""
        // First line only: the driver's compare silently drops queries
        // whose parquet never appeared, so a construction failure must be
        // visible IN the artifact directory, not only on stderr.
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.nextOption().getOrElse(e.getClass.getName)
      }
    }
    (digests, errors)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter for fast local
    // single-gate iteration (the driver always runs the full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    val (digests, errors) = dumpAll(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      digests.map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{", ",", "}"))
    // Always written (possibly {}): an EMPTY errors.json proves the run
    // completed with zero construction failures; a missing one would be
    // ambiguous with an older Verify build.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
