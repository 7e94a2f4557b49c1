package graft

import graft.sources.{CsvIO, Ledger}
import graft.streaming.IncrementalLoad
import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class IoStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_test").toString

  test("pipe CSV round-trip: all-string read, null tokens, header") {
    val dir = tmp()
    val df = Seq(("1", "a|b  c", "12.50"), ("2", null, "NULL"))
      .toDF("id", "name", "amt")
    CsvIO.write(df, s"$dir/out", sep = "|")
    val back = CsvIO.readAllString(spark, s"$dir/out", sep = "|")
    assert(back.schema.fields.forall(_.dataType == StringType))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getString(1) === "a|b  c") // quoting preserves the sep
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2)) // NULL token -> null
  }

  test("rotation moves Current/ files to Archive/") {
    val dir = tmp()
    val cur = s"$dir/Current"; val arc = s"$dir/Archive"
    new java.io.File(cur).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$cur/sales_20240101.csv"), "x")
    Files.writeString(java.nio.file.Paths.get(s"$cur/sales_20240102.csv"), "y")
    assert(CsvIO.rotate(spark, cur, arc) === 2)
    assert(new java.io.File(arc).list().sorted.toSeq ===
      Seq("sales_20240101.csv", "sales_20240102.csv"))
    assert(new java.io.File(cur).list().isEmpty)
  }

  test("ledger: newest-first unprocessed selection, mark, filter") {
    val dir = tmp()
    new java.io.File(dir).mkdirs()
    Seq("sales_20240101.csv", "sales_20240103.csv", "store_x.csv",
      "sales_20240102.txt").foreach { n =>
      Files.writeString(java.nio.file.Paths.get(s"$dir/$n"), "h")
    }
    val files = Ledger.listFiles(spark, dir, "sales_", ".csv")
    assert(files.count() === 2) // prefix+suffix filter
    val ledgerPath = s"$dir/_ledger"
    Ledger.markProcessed(spark, ledgerPath, "sales_20240103.csv",
      "2024-01-03T00:00:00")
    val ledger = spark.read.parquet(ledgerPath)
    assert(Ledger.nextUnprocessed(files, ledger) ===
      Some("sales_20240101.csv"))
    Ledger.markProcessed(spark, ledgerPath, "sales_20240101.csv", "t")
    // exactly once: with every file marked, a re-run consumes nothing…
    assert(Ledger.nextUnprocessed(files,
      spark.read.parquet(ledgerPath)) === None)
    // …and a file that arrives later is the next one, once
    Files.writeString(java.nio.file.Paths.get(s"$dir/sales_20240102.csv"),
      "h")
    val later = Ledger.listFiles(spark, dir, "sales_", ".csv")
    assert(Ledger.nextUnprocessed(later, spark.read.parquet(ledgerPath)) ===
      Some("sales_20240102.csv"))
    Ledger.markProcessed(spark, ledgerPath, "sales_20240102.csv", "t")
    assert(Ledger.nextUnprocessed(later,
      spark.read.parquet(ledgerPath)) === None)
  }

  test("incremental streaming load: one batch per file, exactly-once") {
    // the ledger loop (the s5_ledger_loop cadence) consumes each file as
    // one batch with its own rows; the ledger case above pins the re-run
    val dir = tmp()
    val in = s"$dir/incoming"; new java.io.File(in).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$in/sales_f1.csv"),
      "id|v\n1|10\n2|20\n")
    Files.writeString(java.nio.file.Paths.get(s"$in/sales_f2.csv"),
      "id|v\n3|30\n")
    val ledgerPath = s"$dir/_ledger"
    def ledger =
      if (new java.io.File(ledgerPath).exists) spark.read.parquet(ledgerPath)
      else Seq.empty[String].toDF("filename")
    val batches = Iterator.continually(Ledger.nextUnprocessed(
        Ledger.listFiles(spark, in, "sales_", ".csv"), ledger))
      .takeWhile(_.isDefined).flatten.map { f =>
        val rows = CsvIO.readAllString(spark, s"$in/$f").count()
        Ledger.markProcessed(spark, ledgerPath, f, "t")
        f -> rows
      }.toVector
    assert(batches.sorted === Vector("sales_f1.csv" -> 2L,
      "sales_f2.csv" -> 1L))
  }

  test("windowed event counts with watermark (batch-mode check)") {
    val ev = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:20:00", "click", 2.0),
      ("2024-01-01 00:25:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = IncrementalLoad.windowedEventCounts(ev, "ts", "event_type",
      "15 minutes", "1 hour")
      .orderBy("window_start", "event_type").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n") === 1L)
  }

  test("multimodal: schema, metadata pruning, features, frames, resize") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val media = Multimodal.toMedia(
      docs.withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", "video", "mp4",
      width = (col("doc_id") % 4 + 1) * lit(320),
      height = lit(240))
    // same shape (names + types); nullability flags are derivation detail
    def shape(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => f.name ->
        f.dataType.sql.replace(" NOT NULL", ""))
    assert(shape(media.schema) === shape(Multimodal.mediaSchema))
    val feats = Multimodal.extractFeatures(media, minW = 640, dim = 8)
    val fRows = feats.collect()
    assert(fRows.nonEmpty)
    assert(fRows.forall(_.getSeq[Double](2).size === 8))
    assert(fRows.forall(r => r.getSeq[Double](2)
      .forall(v => v >= 0.0 && v < 1.0)))
    val frames = Multimodal.sampleFrames(media, 4)
    assert(frames.count() === 50 * 4)
    val resized = Multimodal.resize(media, 160, 120)
    val r = resized.select(col("meta.width"),
      octet_length(col("payload"))).collect()
    assert(r.forall(_.getInt(0) === 160))
    assert(r.forall(_.getInt(1) >= 1))
    // determinism: same payload -> same features
    val f2 = Multimodal.extractFeatures(media, minW = 640, dim = 8).collect()
    assert(fRows.map(_.getSeq[Double](2)).toSeq ===
      f2.map(_.getSeq[Double](2)).toSeq)
  }

  test("multimodal: REAL ImageIO decode — dims probe, pixel stats, " +
      "resize round trip, corrupt-payload contract") {
    import Multimodal.ImageIo
    // a 4x2 two-tone: left (10,20,30), right (50,60,70)
    val png = ImageIo.encodeTwoTonePng(4, 2, (10, 20, 30), (50, 60, 70))
    assert(ImageIo.dims(png) === Some((4, 2)))
    val s = ImageIo.decodeStats(png).get
    assert((s.width, s.height) === ((4, 2)))
    assert((s.meanR, s.meanG, s.meanB) === ((30.0, 40.0, 50.0)))
    assert((s.tlR, s.tlG, s.tlB) === ((10, 20, 30)))
    assert((s.brR, s.brG, s.brB) === ((50, 60, 70)))
    // real resize: a SOLID image stays its exact color at any size
    val solid = ImageIo.encodeTwoTonePng(8, 4, (90, 140, 200),
      (90, 140, 200))
    val small = ImageIo.resizePng(solid, 3, 2)
    val rs = ImageIo.decodeStats(small).get
    assert((rs.width, rs.height) === ((3, 2)))
    assert((rs.meanR, rs.meanG, rs.meanB) === ((90.0, 140.0, 200.0)))
    // corrupt / empty payloads: None, never a throw
    assert(ImageIo.dims("not a png".getBytes) === None)
    assert(ImageIo.decodeStats(Array.emptyByteArray) === None)
    assert(ImageIo.resizePng("junk".getBytes, 2, 2) === null)
    // the real BatchDecoder rides the same decodeBatched plumbing as
    // the stub: one row per payload, undecodable -> all-(-1)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, png),
      org.apache.spark.sql.Row(2L, "junk".getBytes),
      org.apache.spark.sql.Row(3L, solid)), schema)
    val feats = Multimodal.decodeBatched(rows, dim = 8, batchSize = 2,
        mkDecoder = ImageIo.decoder(8))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats(1).take(5) ===
      Seq(4.0, 2.0, 30.0 / 255, 40.0 / 255, 50.0 / 255))
    assert(feats(2) === Seq.fill(8)(-1.0))
    assert(feats(3).take(2) === Seq(8.0, 4.0))
    // DataFrame stages: stats rows + metadata-true resize
    val stats = Multimodal.decodeImageStats(rows)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(stats(1).getInt(1) === 4 && stats(1).getDouble(3) === 30.0)
    assert(stats(2).isNullAt(1)) // undecodable -> null stats row
    val media = Multimodal.toMedia(rows, "media_id", "payload",
      "image", "png", width = lit(4), height = lit(2))
    val rz = Multimodal.resizeImages(media, 2, 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val meta1 = rz(1).getStruct(2)
    assert(meta1.getInt(2) === 2 && meta1.getInt(3) === 2)
    assert(meta1.getLong(5) > 0L) // size_bytes from the NEW payload
    assert(rz(2).isNullAt(1))     // undecodable passes through null
  }

  test("multimodal: probeMedia infers type + metadata from bytes " +
      "(png dims, wav duration, unknown fallback, null payload)") {
    import Multimodal.{ImageIo, WavIo}
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L,
        ImageIo.encodeTwoTonePng(6, 4, (1, 2, 3), (1, 2, 3))),
      org.apache.spark.sql.Row(2L,
        WavIo.encodePcm16(16000, Array.fill[Short](8000)(3))),
      org.apache.spark.sql.Row(3L, "neither".getBytes),
      org.apache.spark.sql.Row(4L, null)), schema)
    val got = Multimodal.probeMedia(rows, "media_id", "payload")
      .select(col("media_id"), col("meta.media_type"),
        col("meta.format"), col("meta.width"), col("meta.height"),
        col("meta.duration_ms"), col("meta.size_bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1).getString(1) === "image" &&
      got(1).getString(2) === "png" && got(1).getInt(3) === 6 &&
      got(1).getInt(4) === 4)
    assert(got(2).getString(1) === "audio" &&
      got(2).getString(2) === "wav" && got(2).getLong(5) === 500L)
    assert(got(3).getString(1) === "unknown" && got(3).isNullAt(2))
    assert(got(4).getString(1) === "unknown" &&
      got(4).getLong(6) === 0L)
    // the probed frame IS the canonical media schema — stages compose
    assert(Multimodal.probeMedia(rows, "media_id", "payload")
      .schema.fieldNames.toSeq ===
      Multimodal.mediaSchema.fieldNames.toSeq)
    // ...including resize directly over a probed frame whose image
    // rows carry a NULL duration (the 500k-media stress regression:
    // getLong on the null killed the task)
    val rz = Multimodal.resizeImages(
      Multimodal.probeMedia(rows, "media_id", "payload")
        .filter(col("meta.media_type") === "image"), 3, 2)
      .collect()
    assert(rz.length === 1 && rz.head.getStruct(2).isNullAt(4))
  }

  test("multimodal: REAL WAV parse — header fields, exact PCM stats, " +
      "malformed-payload contract") {
    import Multimodal.WavIo
    val samples = Array[Short](100, -200, 300, -400)
    val wav = WavIo.encodePcm16(8000, samples)
    val inf = WavIo.info(wav).get
    assert(inf.sampleRate === 8000 && inf.channels === 1 &&
      inf.bitsPerSample === 16 && inf.nFrames === 4L)
    assert(inf.durationMs === 0L) // 4 frames / 8kHz: truncating int ms
    val st = WavIo.stats(wav).get
    assert(st.meanAbs === 250.0 && st.maxAbs === 400)
    // duration math at real lengths: 8000 frames / 8kHz = 1000 ms
    val one = WavIo.encodePcm16(8000, Array.fill[Short](8000)(7))
    assert(WavIo.info(one).get.durationMs === 1000L)
    assert(WavIo.stats(one).get.meanAbs === 7.0)
    // malformed payloads: None, never a throw — wrong magic, truncated
    // container, chunk length past the end
    assert(WavIo.info("RIFFxxxxWAVX".getBytes) === None)
    assert(WavIo.info(wav.take(20)) === None)
    val lied = wav.clone()
    lied(42) = 0x7f.toByte // data chunk length far past the buffer
    assert(WavIo.info(lied) === None)
    // sub-byte frame size (bits=4, ch=1): ch*bits/8 == 0 — must be
    // None, not an ArithmeticException killing the task
    val subByte = wav.clone()
    subByte(34) = 4.toByte; subByte(35) = 0.toByte
    assert(WavIo.info(subByte) === None)
    // the DataFrame stage: stats rows + nulls for non-WAV payloads
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, wav),
      org.apache.spark.sql.Row(2L, "garbage".getBytes)), schema)
    val out = Multimodal.decodeAudioStats(rows)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1).getInt(1) === 8000 && out(1).getDouble(5) === 250.0)
    assert(out(2).isNullAt(1))
  }

  test("multimodal: REAL animated-GIF frame sampling — frame count, " +
      "evenly spaced indices, exact solid colors, None contract") {
    import Multimodal.GifIo
    val gif = GifIo.encodeAnimatedGif(6, 4, Seq(
      (10, 20, 30), (40, 50, 60), (70, 80, 90),
      (100, 110, 120), (130, 140, 150)))
    assert(GifIo.frameCount(gif) === Some(5))
    // n=2 over 5 frames: indices ⌊j·5/2⌋ = 0, 2 — and a solid frame's
    // palette holds exactly its color, so the means are the colors
    val fr = GifIo.sampleFrames(gif, 2).get
    assert(fr.map(_.frameIdx) === Seq(0, 2))
    assert(fr.head.width === 6 && fr.head.height === 4)
    assert((fr(0).meanR, fr(0).meanG, fr(0).meanB) === (10.0, 20.0, 30.0))
    assert((fr(1).meanR, fr(1).meanG, fr(1).meanB) === (70.0, 80.0, 90.0))
    // oversampling clamps to the frame count, in order
    assert(GifIo.sampleFrames(gif, 99).get.map(_.frameIdx) ===
      (0 until 5))
    // non-GIF payloads: None, never a throw — junk AND a valid PNG
    assert(GifIo.sampleFrames("junk".getBytes, 3) === None)
    assert(GifIo.frameCount(Multimodal.ImageIo.encodeTwoTonePng(
      4, 2, (1, 2, 3), (4, 5, 6))) === None)
    // DataFrame stage: gif rows explode to sampled frames, non-gif
    // rows contribute zero rows
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, gif),
      org.apache.spark.sql.Row(2L, "garbage".getBytes)), schema)
    val out = Multimodal.sampleGifFrames(rows, 3)
      .orderBy("media_id", "frame_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((1L, 0), (1L, 1), (1L, 3)))
    assert(out(1).getDouble(4) === 40.0) // frame 1 mean_r
    // frame EXTRACTION: sampled frames come back as standalone PNGs
    // that the image decoder reads with pixel fidelity (lossless hop)
    val pngs = Multimodal.extractGifFrames(rows, 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(pngs.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((1L, 0), (1L, 2)))
    val st = Multimodal.ImageIo.decodeStats(
      pngs(1).getAs[Array[Byte]](2)).get
    assert(st.width === 6 && st.height === 4 &&
      (st.meanR, st.meanG, st.meanB) === (70.0, 80.0, 90.0))
    assert(Multimodal.GifIo.framePngs("junk".getBytes, 2) === None)
  }

  test("multimodal: delta-encoded GIF (sub-rectangle frame) is a " +
      "countable skip, not a wrong statistic") {
    import Multimodal.GifIo
    // frame 0 fills the 6x4 canvas; frame 1 is a 2x2 patch — a real
    // delta frame whose STORED pixels are not the rendered frame
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      Seq((6, 4, 0xff0000), (2, 2, 0x00ff00)).foreach { case (w, h, c) =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, c)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    val deltaGif = bos.toByteArray
    assert(GifIo.frameCount(deltaGif) === Some(2))
    // sampling only frame 0 (standalone: full canvas, opaque) is fine…
    assert(GifIo.sampleFrames(deltaGif, 1).get.map(_.frameIdx) ===
      Seq(0))
    // …but any sample that touches the patch frame disqualifies the
    // GIF — both legs, same guard
    assert(GifIo.sampleFrames(deltaGif, 2) === None)
    assert(GifIo.framePngs(deltaGif, 2) === None)
    // and the DataFrame stages surface it as zero rows for that id
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(9L, deltaGif)), schema)
    assert(Multimodal.sampleGifFrames(rows, 2).count() === 0L)
    assert(Multimodal.extractGifFrames(rows, 2).count() === 0L)
  }

  test("multimodal: batched decode is batch- and partition-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(60)
    val media = Multimodal.toMedia(
      docs.withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", "image", "png",
      width = lit(320), height = lit(240))
    def run(parts: Int, batch: Int): Map[Long, Seq[Double]] =
      Multimodal.decodeBatched(media.repartition(parts), dim = 8,
          batchSize = batch)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val base = run(1, 64)
    assert(base.size === 60)
    assert(base.values.forall(f => f.size == 8 &&
      f.forall(v => v >= 0.0 && v <= 1.0)))
    // per-payload decode: results cannot depend on how rows are
    // batched or partitioned — the invariant that makes the
    // mapPartitions shape safe to re-tune at scale
    assert(run(7, 1) === base)
    assert(run(13, 5) === base)
    // decoder init is per PARTITION, not per row/batch: the expensive
    // model-load cost scales with tasks, not data
    val inits = spark.sparkContext.longAccumulator("decInits")
    val counting: () => Multimodal.BatchDecoder = () => {
      inits.add(1)
      new Multimodal.BatchDecoder {
        override def decodeBatch(
            ps: Array[Array[Byte]]): Array[Array[Double]] =
          ps.map(_ => Array.fill(8)(0.5))
      }
    }
    Multimodal.decodeBatched(media.repartition(4), dim = 8,
      batchSize = 2, mkDecoder = counting).count()
    assert(inits.value === 4L)
    // null payloads are dropped before the decoder (a real FFI codec
    // would crash the task on them)
    val withNull = media.withColumn("payload",
      when(col("media_id") % 2 === 0, col("payload")))
    assert(Multimodal.decodeBatched(withNull, dim = 8).count() === 30L)
  }

  test("S8 glob with date walk-back") {
    val dir = tmp()
    new java.io.File(dir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$dir/snap_20240110.csv"), "x")
    val got = graft.sources.FileResolver.globWithWalkback(spark,
      s"$dir/snap_YYYYMMDD.csv", java.time.LocalDate.parse("2024-01-13"), 5)
    assert(got.isDefined)
    assert(got.get._1 === java.time.LocalDate.parse("2024-01-10"))
    assert(got.get._2.head.endsWith("snap_20240110.csv"))
    assert(graft.sources.FileResolver.globWithWalkback(spark,
      s"$dir/snap_YYYYMMDD.csv", java.time.LocalDate.parse("2024-01-20"),
      5).isEmpty)
  }
}
