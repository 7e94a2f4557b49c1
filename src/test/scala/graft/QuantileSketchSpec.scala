package graft

import graft.ops.QuantileSketch
import org.apache.spark.sql.functions._

class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val M = 7

  // deterministic pseudo-random longs spanning exact (< 2^M) and
  // log-bucketed ranges, including the 2^M-1 / 2^M / 2^M+1 boundary
  private def values(n: Int): Seq[Long] =
    (1 to n).map { i =>
      val h = ((i * 2654435761L) ^ (i << 7)) & 0x7fffffffL
      h % (if (i % 3 == 0) 120L else 10000000L)
    } ++ Seq(0L, 127L, 128L, 129L, (1L << 40) - 1, 1L << 40)

  test("bucket mapping: monotone, identity below 2^(m+1), upper edge " +
      "within the 2^-m relative bound") {
    val vs = values(5000).distinct.sorted
    val df = vs.toDF("v")
      .withColumn("bkt", QuantileSketch.bucketOf(col("v"), M))
      .withColumn("hi", QuantileSketch.bucketHi(col("bkt"), M))
    val rows = df.orderBy("v").collect()
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) <= b.getLong(1),
        s"bucket not monotone at ${a.getLong(0)} -> ${b.getLong(0)}")
    case _ => ()
    }
    rows.foreach { r =>
      val (v, bkt, hi) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (v < (1L << (M + 1))) assert(bkt === v && hi === v)
      assert(hi >= v, s"hi $hi below value $v")
      assert(hi - v <= (v >> M), s"edge error for $v: hi=$hi")
    }
  }

  test("file-streamed sketch maintenance ≡ one-shot summarize, " +
      "bit for bit") {
    val raw = Tables.lineitem(spark, "/root/testdata/sf0.001").select(
      date_format(col("l_shipdate").cast("date"), "yyyy-MM").as("month"),
      (Tables.dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
      (col("l_orderkey") % 3).as("h"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_qsk").toString
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    Seq(0, 1, 2).foreach { i =>
      raw.filter(col("h") === i)
        .coalesce(1).write.parquet(s"$root/in/batch_$i")
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/in/batch_$i"))
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, j) =>
          fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(s"$root/deltas/b${i}_$j.parquet"))
        }
    }
    val state = graft.streaming.StreamingSummary.maintainQuantilesFromFiles(
      spark, s"$root/deltas", raw.schema, s"$root/ckpt", s"$root/state",
      Seq("month"), "cents")
    val oneShot = QuantileSketch.summarize(raw, Seq("month"), "cents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("month"), col("bkt"), col("cnt"), col("m"))
        .collect().map(_.toSeq).toSet
    assert(canon(state) === canon(oneShot))
    // and the quantiles read identically off either state
    val qs = Seq(("p50", 1, 2), ("p99", 99, 100))
    assert(QuantileSketch.quantiles(state, Seq("month"), qs)
        .orderBy("month").collect().map(_.toSeq).toSeq ===
      QuantileSketch.quantiles(oneShot, Seq("month"), qs)
        .orderBy("month").collect().map(_.toSeq).toSeq)
  }

  test("disjoint deltas roll up to exactly the one-pass sketch") {
    val vs = values(3000)
    val whole = vs.zipWithIndex.map { case (v, i) => (s"g${i % 3}", v) }
      .toDF("g", "v")
    val onePass = QuantileSketch.summarize(whole, Seq("g"), "v", M)
    val deltas = (0 until 4).map(k =>
      QuantileSketch.summarize(
        whole.filter(pmod(hash(col("v")), lit(4)) === k), Seq("g"), "v", M))
    val merged = QuantileSketch.rollup(
      deltas.reduce(_ unionByName _), Seq("g"))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(key(merged) === key(onePass))
  }

  test("quantile estimates sit in [exact, exact + exact>>m] against a " +
      "sorted-array oracle; exact below 2^(m+1)") {
    val vs = values(4000)
    val df = vs.map(("g", _)).toDF("g", "v")
    val sk = QuantileSketch.summarize(df, Seq("g"), "v", M)
    val est = QuantileSketch.quantiles(sk, Seq("g"),
      Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
      .collect().head
    val sorted = vs.sorted
    def exactAt(num: Int, den: Int): Long = {
      val r = (sorted.size.toLong * num + (den - 1)) / den
      sorted((r - 1).toInt)
    }
    Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)).foreach {
      case (name, n, d) =>
        val e = exactAt(n, d)
        val got = est.getAs[Long](name)
        assert(got >= e && got - e <= (e >> M),
          s"$name: est $got vs exact $e")
        if (e < (1L << (M + 1))) assert(got === e)
    }
  }

  test("streamed sketch maintenance equals the one-pass sketch, " +
      "including a late fourth delta resumed from the checkpoint") {
    import graft.streaming.StreamingSummary
    val root = java.nio.file.Files.createTempDirectory("graft_sq").toString
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def land(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      df.coalesce(1).write.parquet(s"$root/in/$tag")
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/in/$tag"))
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, j) =>
          fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(s"$root/deltas/${tag}_$j.parquet"))
        }
    }
    val all = values(2000).zipWithIndex
      .map { case (v, i) => (s"g${i % 2}", v) }.toDF("g", "v")
    (0 to 2).foreach(i => land(all.filter(pmod(hash(col("v")), lit(3)) === i),
      s"b$i"))
    val got = StreamingSummary.maintainQuantilesFromFiles(spark,
      s"$root/deltas", all.schema, s"$root/ckpt", s"$root/sketch",
      Seq("g"), "v", M)
    val want = QuantileSketch.summarize(all, Seq("g"), "v", M)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(key(got) === key(want))

    land(all.limit(100), "b3") // late delta: only it folds on resume
    val got2 = StreamingSummary.maintainQuantilesFromFiles(spark,
      s"$root/deltas", all.schema, s"$root/ckpt", s"$root/sketch",
      Seq("g"), "v", M)
    val want2 = QuantileSketch.summarize(all.unionByName(all.limit(100)),
      Seq("g"), "v", M)
    assert(key(got2) === key(want2))
  }

  test("winsorize clips into in-bound quantile caps, keeps every row, " +
      "and passes nulls through unclipped") {
    val vs = values(3000)
    val df = vs.map(v => ("g", Option(v))).toDF("g", "v")
      .unionByName(Seq(("g", None: Option[Long])).toDF("g", "v"))
    val rows = QuantileSketch.winsorize(df, Seq("g"), "v",
      lo = (1, 20), hi = (19, 20)).collect()
    assert(rows.length === vs.size + 1)
    val lo = rows.head.getAs[Long]("clip_lo")
    val hi = rows.head.getAs[Long]("clip_hi")
    val sorted = vs.sorted
    def exactAt(num: Int, den: Int): Long =
      sorted(((sorted.size.toLong * num + den - 1) / den - 1).toInt)
    val (e5, e95) = (exactAt(1, 20), exactAt(19, 20))
    assert(lo >= e5 && lo - e5 <= (e5 >> M))
    assert(hi >= e95 && hi - e95 <= (e95 >> M))
    val clipped = rows.filter(!_.isNullAt(1)).map(_.getLong(1))
    assert(clipped.forall(v => v >= lo && v <= hi))
    assert(clipped.sorted.toSeq ===
      vs.map(v => math.min(math.max(v, lo), hi)).sorted)
    assert(rows.count(_.isNullAt(1)) === 1)
  }

  test("reading a group that mixes sketch resolutions fails loudly") {
    val df = values(500).map(("g", _)).toDF("g", "v")
    val mixed = QuantileSketch.summarize(df, Seq("g"), "v", 7)
      .unionByName(QuantileSketch.summarize(df, Seq("g"), "v", 9))
    val ex = intercept[Exception] {
      QuantileSketch.quantiles(mixed, Seq("g"), Seq(("p50", 1, 2)))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +:
        msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("mixes sketch resolutions")))
  }

  test("null values are excluded; negative values fail loudly") {
    val df = Seq(Some(5L), None, Some(600L)).toDF("v")
      .withColumn("g", lit("g"))
    val sk = QuantileSketch.summarize(df, Seq("g"), "v", M)
    assert(sk.agg(sum("cnt")).collect().head.getLong(0) === 2L)
    val bad = Seq(("g", -3L)).toDF("g", "v")
    val ex = intercept[Exception] {
      QuantileSketch.summarize(bad, Seq("g"), "v", M).collect()
    }
    assert(ex.getMessage.contains("negative") ||
      ex.getCause != null && ex.getCause.getMessage.contains("negative"))
  }
}
