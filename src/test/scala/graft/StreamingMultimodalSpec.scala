package graft

import java.nio.file.Files
import graft.model.FileRow
import graft.multimodal.Multimodal
import graft.rules.FileRules
import graft.streaming.StreamValidate
import graft.synth.FilesTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("v_stream_totals leaves the caller's session conf untouched while it runs") {
    // the caller's own session, at a value the stream's state sizing does not use
    val key = "spark.sql.shuffle.partitions"
    val caller = spark.newSession()
    caller.conf.set(key, "3")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) { seen.add(caller.conf.get(key)); Thread.sleep(1) })
    poller.start()
    val totals = try SparkEntry.queries("v_stream_totals")(caller, sf).collect()
      finally { running = false; poller.join() }
    assert(totals.nonEmpty)
    assert(seen.toArray.toSet === Set("3"))
  }

  test("violation stream over a growing parquet dir matches batch result") {
    val dir = Files.createTempDirectory("stream").toString
    val files = FilesTable.files(spark, sf).drop("doc_id")
    files.write.mode("overwrite").parquet(dir)

    val q = StreamValidate.toMemorySink(
      StreamValidate.violationStream(spark, dir, FileRow.schema, FileRules.rowRules),
      "viol_stream", "append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT rule_id, COUNT(*) n FROM viol_stream GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.validate.Violations.extract(files, FileRules.rowRules)
        .groupBy("rule_id").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming dedup with watermark drops in-horizon duplicates, bounded state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sdedup").toString
    // two copies of each text in one batch -> exactly one survivor each
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .limit(50).select(col("doc_id"), col("text"))
      .withColumn("ts", expr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)"))
    docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 1000))
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(
      "doc_id BIGINT, text STRING, ts TIMESTAMP").parquet(dir)
    val q = StreamValidate.toMemorySink(
      StreamValidate.streamingDedup(stream, "text", "ts"),
      "dedup_stream", "append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT COUNT(*) c, COUNT(DISTINCT digest) d FROM dedup_stream")
        .collect()(0)
      assert(got.getLong(0) === 50) // one survivor per distinct text
      assert(got.getLong(1) === 50)
    } finally q.stop()
  }

  test("streaming dedup state EXPIRES past the watermark horizon: an " +
    "in-horizon duplicate is dropped, a post-horizon one re-admitted") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // the bounded-state contract that replaces the reference's unbounded
    // badger KV (transform/distinct.go:24-53): dedup state lives only
    // within the watermark horizon, so a duplicate arriving after its
    // original's event time fell behind the watermark is ADMITTED again
    // — the price of O(horizon) instead of O(corpus) state, certified
    // here in both directions
    val dir = Files.createTempDirectory("sdedup_exp").toString
    val dp = java.nio.file.Paths.get(dir)
    def file(name: String, mtime: Long, rows: Seq[(Long, String, String)]): Unit = {
      rows.toDF("doc_id", "text", "ts0")
        .select(col("doc_id"), col("text"), col("ts0").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      val ls = Files.list(dp)
      try ls.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet") &&
          Files.getLastModifiedTime(p).toMillis > 1000000000L)
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        ()
      } finally ls.close()
    }
    // b0: original A; b1: in-horizon dup of A (+2h advancer row B);
    // b2: another batch so the advanced watermark takes effect (state
    // eviction runs AFTER a batch's input is processed, so the evicting
    // boundary must fully pass before a re-admission is observable);
    // b3: post-horizon dup of A — state for A evicted by then
    file("b0", 1000L, Seq((1L, "alpha", "2026-01-01 00:00:00")))
    file("b1", 2000L, Seq(
      (2L, "alpha", "2026-01-01 00:05:00"), // dup, state alive -> dropped
      (3L, "beta", "2026-01-01 02:00:00"))) // advances the watermark
    file("b2", 3000L, Seq((5L, "gamma", "2026-01-01 02:05:00")))
    file("b3", 4000L, Seq((4L, "alpha", "2026-01-01 02:10:00")))
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamValidate.toMemorySink(
      StreamValidate.streamingDedup(stream, "text", "ts", "10 minutes"),
      "dedup_expiry", "append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val ids = spark.table("dedup_expiry").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      // 1 (first alpha), 3 (beta), 5 (gamma), 4 (alpha re-admitted
      // after expiry); 2 (in-horizon dup) dropped
      assert(ids === Seq(1L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("late data past the watermark is dropped, not merged (append mode e2e)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("latedata").toString
    def write(rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("ts_s", "event_type", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: three in-window "a" events + a "b" event that advances the
    // watermark to 12:20 (12:30 - 10 min), finalizing the 10:00 window
    write(Seq(
      ("2026-01-01 10:05:00", "a", 1.0),
      ("2026-01-01 10:20:00", "a", 2.0),
      ("2026-01-01 10:40:00", "a", 3.0),
      ("2026-01-01 12:30:00", "b", 10.0)))
    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE").parquet(dir)
    val q = StreamValidate.toMemorySink(
      StreamValidate.windowedEventAgg(stream, "1 hour", "1 hour", "10 minutes"),
      "late_stream", "append").start()
    try {
      q.processAllAvailable()
      // batch 2: an out-of-order "a" event at 10:30 — 1h50m BEHIND the
      // watermark — plus a fresh row so the batch isn't empty
      write(Seq(
        ("2026-01-01 10:30:00", "a", 100.0),
        ("2026-01-01 12:40:00", "b", 20.0)))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n, value_sum FROM late_stream WHERE event_type = 'a'").collect()
      // the [10:00,11:00) window was emitted once with the 3 on-time rows
      // only; the late row was dropped per the watermark spec (had it been
      // merged, n would be 4 and value_sum 106)
      assert(rows.length === 1)
      assert(rows(0).getLong(0) === 3L)
      assert(rows(0).getDouble(1) === 6.0)
    } finally q.stop()
  }

  test("windowed event aggregation with watermark produces sane windows") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    // batch execution of the same streaming transform (plan reuse both ways)
    val agg = StreamValidate.windowedEventAgg(events, "1 hour", "1 hour")
    val rows = agg.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === events.count())
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  lazy val media = Multimodal.syntheticMedia(spark, 200).cache()

  test("decodeMeta: valid headers parsed, corrupt rows flagged not dropped") {
    val meta = Multimodal.decodeMeta(media).cache()
    assert(meta.count() === 200)
    val bad = meta.filter(!col("valid"))
    assert(bad.count() === media.filter(col("media_id") % 13 === 5).count())
    val ok = meta.filter(col("valid")).collect()
    assert(ok.forall(m => m.width >= 16 && m.width < 80))
    assert(ok.forall(_.byte_len === 68L))
  }

  test("HeaderCodec: real PNG/BMP/WAV headers decode without any media library") {
    import graft.multimodal.HeaderCodec
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // PNG: signature + IHDR(len 13): width 640, height 480
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0) // depth/color/... + (unchecked) CRC
    val p = HeaderCodec.decode(1, png)
    assert((p.format, p.width, p.height, p.valid) === (("png", 640, 480, true)))
    // BMP: BITMAPINFOHEADER, width 320, TOP-DOWN height -200 -> 200
    val bmp = "BM".getBytes ++ le32(54) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(320) ++ le32(-200 & 0xffffffffL) ++ le16(1) ++ le16(24) ++
      Array.fill[Byte](20)(0)
    val b = HeaderCodec.decode(2, bmp)
    assert((b.format, b.width, b.height, b.valid) === (("bmp", 320, 200, true)))
    // WAV: a JUNK chunk BEFORE fmt (the walker must not assume offsets)
    val wav = "RIFF".getBytes ++ le32(60) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(4) ++ Array.fill[Byte](4)(0) ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(176400) ++ le16(4) ++ le16(16)
    val w = HeaderCodec.decode(3, wav)
    assert((w.format, w.channels, w.sample_rate, w.valid) === (("wav", 2, 44100, true)))
    // garbage stays invalid, never throws
    val g = HeaderCodec.decode(4, Array[Byte](1, 2, 3))
    assert((g.format, g.valid) === (("unknown", false)))
    // malicious chunk size (0xFFFFFFF8 = -8 as i32) must terminate, not loop
    val evil = "RIFF".getBytes ++ le32(60) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](8)(0)
    val e = HeaderCodec.decode(5, evil)
    assert((e.format, e.valid) === (("wav", false)))
  }

  test("HeaderCodec.decodeMeta: sniffing works per partition over mixed payloads") {
    import spark.implicits._
    import graft.multimodal.{HeaderCodec, Multimodal}
    val mixed = Multimodal.syntheticMedia(spark, 20) // 'GM' + corrupt rows
    val out = HeaderCodec.decodeMeta(mixed)
    val byFormat = out.groupBy("format").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFormat("gm") === 18) // ids 5 and 18 are the planted corrupt rows
    assert(byFormat("unknown") === 2)
  }

  test("extractFeatures: frame sampling fans out 1->N with fixed dim") {
    val feats = Multimodal.extractFeatures(media, frames = 3)
    assert(feats.count() === 600)
    assert(feats.head().feature.length === 8)
    // deterministic: same input => same features
    val a = feats.filter(col("media_id") === 7 && col("frame") === 1)
      .head().feature.toSeq
    val b = Multimodal.extractFeatures(media, frames = 3)
      .filter(col("media_id") === 7 && col("frame") === 1).head().feature.toSeq
    assert(a === b)
  }

  test("PixelCodec: real BMP pixels and WAV PCM samples decode exactly " +
    "(stride, top-down rows, channel order, JUNK chunk walk)") {
    import graft.multimodal.PixelCodec
    // id 2: bottom-up BMP, w=5 (stride 16 -> padded), h=4
    val bmp2 = PixelCodec.decodeBmpPixels(PixelCodec.buildBmp(2)).get
    assert((bmp2.width, bmp2.height) === ((5, 4)))
    for (y <- 0 until 4; x <- 0 until 5; c <- 0 until 3)
      assert(bmp2.at(x, y, c) === PixelCodec.synthPixel(2, x, y, c),
        s"bottom-up pixel ($x,$y,$c)")
    // id 5: TOP-DOWN BMP (negative header height), w=3+5%5=3, h=2+5%4=3
    val bmp5 = PixelCodec.decodeBmpPixels(PixelCodec.buildBmp(5)).get
    assert((bmp5.width, bmp5.height) === ((3, 3)))
    for (y <- 0 until 3; x <- 0 until 3; c <- 0 until 3)
      assert(bmp5.at(x, y, c) === PixelCodec.synthPixel(5, x, y, c),
        s"top-down pixel ($x,$y,$c)")
    // WAV roundtrip incl. negative samples (int16 sign)
    val s7 = PixelCodec.decodeWavSamples(PixelCodec.buildWav(7)).get
    assert(s7.length === 47)
    s7.zipWithIndex.foreach { case (v, i) =>
      assert(v === PixelCodec.synthSample(7, i), s"sample $i")
    }
    assert(s7.exists(_ < 0))
    // garbage and truncation: None, never a throw
    assert(PixelCodec.decodeBmpPixels(Array[Byte](1, 2, 3)).isEmpty)
    assert(PixelCodec.decodeBmpPixels(PixelCodec.buildBmp(2).take(60)).isEmpty)
    assert(PixelCodec.decodeWavSamples(PixelCodec.buildWav(7).take(30)).isEmpty)
    // crafted header width whose w*3 WRAPS in Int (0x55555558*3 = 8):
    // Int-arithmetic stride would pass the bounds check and then throw
    // on pixel access — must come back None, not an exception
    val evil = PixelCodec.buildBmp(2).clone()
    val wBytes = Array[Byte](0x58, 0x55, 0x55, 0x55) // LE 0x55555558
    System.arraycopy(wBytes, 0, evil, 18, 4)
    assert(PixelCodec.decodeBmpPixels(evil).isEmpty)
  }

  test("PixelCodec.pixelFeatures: partition-batched exact features over " +
    "the real-file corpus") {
    import graft.multimodal.PixelCodec
    val feats = PixelCodec.pixelFeatures(
      PixelCodec.syntheticMediaReal(spark, 40)).cache()
    assert(feats.count() === 40)
    assert(feats.filter(!col("valid")).count() === 0)
    // spot-check one BMP row against a driver-side recompute
    val r2 = feats.filter(col("media_id") === 2).collect()(0)
    val exp = (for (y <- 0 until 4; x <- 0 until 5)
      yield PixelCodec.synthPixel(2, x, y, 2).toLong).sum
    assert(r2.getAs[Long]("sum1") === exp)
    feats.unpersist()
  }

  test("validFeatures joins metadata and drops failed decodes") {
    val meta = Multimodal.decodeMeta(media)
    val out = Multimodal.validFeatures(meta, Multimodal.extractFeatures(media, 2))
    val invalid = meta.filter(!col("valid")).count()
    assert(out.count() === (200 - invalid) * 2)
    assert(out.columns.toSet ===
      Set("media_id", "frame", "feature", "kind", "width", "height"))
  }
}

class CliSpec extends AnyFunSuite {
  test("inspect prints the compiled rule surface without a session") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { graft.cli.Main.inspect() }
    val s = out.toString
    assert(s.contains("required_lang: required(lang)"))
    assert(s.contains("sha256_content: content_sha256 == sha256(content)"))
    assert(s.contains("unique_file: unique(repo,path,commit)"))
    assert(s.contains("ref_repo: repo in repo_manifest.repo"))
  }
}
