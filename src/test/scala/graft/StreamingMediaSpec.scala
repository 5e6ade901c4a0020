package graft

import graft.multimodal.Media
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingMediaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("windowedCounts aggregates an event-time stream incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val out = EventStream.windowedCounts(
      mem.toDF().toDF("ts", "event_type"), "ts", "event_type",
      window = "1 hour", lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:05:00"), "click"),
        (Timestamp.valueOf("2024-01-01 00:55:00"), "click"),
        (Timestamp.valueOf("2024-01-01 01:05:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("win_start", "event_type", "cnt")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows == Set(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "click", 2L),
        (Timestamp.valueOf("2024-01-01 01:00:00"), "view", 1L)))
    } finally q.stop()
  }

  test("streamingWordCount updates counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = EventStream.streamingWordCount(mem.toDF())
    val q = out.writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").start()
    try {
      mem.addData("spark engine spark")
      q.processAllAvailable()
      mem.addData("engine scale")
      q.processAllAvailable()
      val rows = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(rows == Map("spark" -> 2L, "engine" -> 2L, "scale" -> 1L))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to prior views") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val out = EventStream.attributeToViews(
      views.toDF().toDF("user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts"))
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      views.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        (1L, Timestamp.valueOf("2024-01-01 09:00:00")), // too old
        (2L, Timestamp.valueOf("2024-01-01 10:10:00")))
      purchases.addData((1L, Timestamp.valueOf("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // advance watermarks far enough to emit
      views.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00")))
      purchases.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("user_id", "v_ts").as[(Long, Timestamp)].collect().toSet
      // only user 1's 10:00 view is within 30 min of the 10:20 purchase
      assert(rows.exists(_ == (1L, Timestamp.valueOf("2024-01-01 10:00:00"))))
      assert(!rows.contains((1L, Timestamp.valueOf("2024-01-01 09:00:00"))))
      assert(!rows.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("stream_join_attrib emits the full join result in one micro-batch") {
    // inner stream-stream joins emit on match, not on watermark advance —
    // the replay disables no-data micro-batches and stages no sentinel
    // rows, so this compares the single-batch streaming result against the
    // equivalent batch join to prove nothing is held back in state
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("stream_join_attrib")(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // ts has shipped as both nanos-long and naive-micros timestamp across
    // testdata generations — normalize to epoch micros either way
    val us = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val e = raw
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), us.as("us"), col("event_type"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    val batch = e.where(col("event_type") === "purchase")
      .join(v, col("user_id") === col("v_user") &&
        col("v_us") <= col("us") &&
        col("v_us") >= col("us") - expr("1800000000L"))
      .select(col("user_id"), col("us"), col("v_us"))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("closedSessions emits gap-closed sessions, keeps the tail open") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val out = EventStream.closedSessions(
      mem.toDF().toDF("u", "t").as[(Long, Long)]).toDF()
    val q = out.writeStream.format("memory").queryName("closed_sess")
      .outputMode("append").start()
    try {
      // user 1: two events 1s apart, then a >30min jump -> first session
      // closes; user 2: one event -> stays open, nothing emitted
      mem.addData((1L, 0L), (1L, 1000000L), (1L, 5000000000L), (2L, 7L))
      q.processAllAvailable()
      val r1 = spark.table("closed_sess")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(r1 == Set((1L, 0L, 1000000L, 2L)))
      // next batch: extend user 1's open session, then jump again ->
      // the state carried across batches closes [5e9, 5.1e9] with 2 events
      mem.addData((1L, 5100000000L), (1L, 10000000000L))
      q.processAllAvailable()
      val r2 = spark.table("closed_sess")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(r2 == Set((1L, 0L, 1000000L, 2L),
        (1L, 5000000000L, 5100000000L, 2L)))
    } finally q.stop()
  }

  test("dedupStream drops repeats within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val out = EventStream.dedupStream(
      mem.toDF().toDF("k", "ts"), Seq("k"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        ("a", Timestamp.valueOf("2024-01-01 10:00:00")),
        ("a", Timestamp.valueOf("2024-01-01 10:01:00")), // dup within horizon
        ("b", Timestamp.valueOf("2024-01-01 10:02:00")))
      q.processAllAvailable()
      mem.addData(("z", Timestamp.valueOf("2024-01-01 12:00:00"))) // advance
      q.processAllAvailable()
      val ks = spark.table("dedup_stream").select("k").as[String]
        .collect().toSeq
      assert(ks.count(_ == "a") == 1 && ks.count(_ == "b") == 1)
    } finally q.stop()
  }

  test("runningSessions counts events per user (batch = single micro-batch)") {
    val ds = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDS()
    val got = EventStream.runningSessions(ds)
      .collect().map(u => u.userId -> u.nEvents).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("momentSumsStream: multi-batch replay merges to the batch moments") {
    val dims = 5
    val rows = (0 until 120).map(i =>
      (i.toLong, Seq.tabulate(dims)(d =>
        (math.sin(i * 7 + d * 3) * 2).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    // batch truth: the one-pass native aggregate
    val (bn, bs, bo) = graft.ops.Pca.momentSums(df, col("embedding"))
    // stream: 3 files -> 3 micro-batches through the CSV gate
    val staged = df.select(col("vec_id"),
      concat_ws(";", col("embedding").cast("array<string>")).as("emb"))
    val sink = graft.streaming.StreamGate.stageCsvAndReplay(staged,
      "gate_momspec")(graft.streaming.StreamGate.replayCsvMultiBatch(spark,
        _, _, "gate_momspec", "update")(d =>
        graft.streaming.EventStream.momentSumsStream(
          d.select(col("vec_id"),
            split(col("emb"), ";").cast("array<float>").as("v"))
            .as[(Long, Seq[Float])], shards = 4).toDF()))
    // multiple versions per shard prove multi-batch state actually ran
    val maxVer = sink.agg(max("ver")).as[Long].head()
    assert(maxVer >= 2, s"replay collapsed to one micro-batch ($maxVer)")
    val bufs = sink.groupBy(col("shard"))
      .agg(max(struct(col("ver"), col("buf"))).as("m"))
      .select(col("m.buf")).as[Seq[Double]].collect()
    val flat = bufs.filter(_.nonEmpty).map(_.toArray)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val (sn, ss, so) = graft.ops.Pca.parseMoments(flat)
    assert(sn == bn)
    for (i <- 0 until dims)
      assert(math.abs(ss(i) - bs(i)) < 1e-9, s"sum at $i")
    for (i <- 0 until dims; j <- 0 until dims)
      assert(math.abs(so(i)(j) - bo(i)(j)) < 1e-9, s"outer at ($i,$j)")
  }

  test("media pipeline: schema, metadata, real default decoder") {
    val df = Seq(
      (1L, "image", Array[Byte](10, 20, 30, 40, 50, 60, 70, 80)),
      (2L, "image", Array.empty[Byte]))
      .toDF("media_id", "kind", "payload")
    val withMeta = Media.withMeta(df, "png")
    assert(withMeta.schema == Media.mediaSchema)
    val meta = withMeta.select("meta.n_bytes").as[Long].collect().toSet
    assert(meta == Set(8L, 0L))

    // the default extractFeatures decoder IS the real image path: junk
    // and empty payloads survive as zero features (flag = 0), decodable
    // payloads produce ImageIO-derived features
    val feats = Media.extractFeatures(withMeta)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "meta", "features"))
    val f = feats.select("media_id", "features")
      .as[(Long, Seq[Float])].collect().toMap
    assert(f(1L) == Seq.fill(8)(0f)) // not an image -> zeros, row kept
    assert(f(2L) == Seq.fill(8)(0f))
    val realPng = Seq((3L, "image", png(4, 2, 0x102030)))
      .toDF("media_id", "kind", "payload")
    val f3 = Media.extractFeatures(Media.withMeta(realPng, "png"))
      .select("features").as[Seq[Float]].head()
    assert(f3 == Media.imageFeatures(png(4, 2, 0x102030)).toSeq)
    assert(f3.take(2) == Seq(4f, 2f) && f3(7) == 1f)
  }

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("REAL image decode: ImageIO features through the partition batch") {
    val red = png(8, 4, 0xff0000)
    val gray = png(3, 3, 0x808080)
    val df = Media.withMeta(Seq(
      (1L, "image", red), (2L, "image", gray),
      (3L, "image", Array[Byte](1, 2, 3)) /* not an image */)
      .toDF("media_id", "kind", "payload"), "png")
    val f = Media.extractImageFeatures(df)
      .select("media_id", "features").as[(Long, Seq[Float])]
      .collect().toMap
    // red 8x4: w, h, aspect, meanR=255, meanG=0, meanB=0, luma, ok=1
    assert(f(1L).take(3) == Seq(8f, 4f, 2f))
    assert(f(1L)(3) == 255f && f(1L)(4) == 0f && f(1L)(5) == 0f)
    assert(math.abs(f(1L)(6) - 0.299f * 255f) < 0.01f && f(1L)(7) == 1f)
    assert(f(2L).take(2) == Seq(3f, 3f) && f(2L)(3) == 128f)
    assert(f(3L) == Seq.fill(8)(0f)) // undecodable -> zero features, kept
  }

  test("REAL image resize: scales to max dim, re-encodes, never upscales") {
    val big = png(16, 8, 0x00ff00)
    val out = Media.resizeImage(big, 4)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out))
    assert(img.getWidth == 4 && img.getHeight == 2)
    assert((img.getRGB(1, 1) & 0xffffff) == 0x00ff00) // color preserved
    val small = png(2, 2, 0x0000ff)
    assert(Media.resizeImage(small, 4) eq small) // no upscale: pass-through
    val junk = Array[Byte](9, 9)
    assert(Media.resizeImage(junk, 4) eq junk)
  }

  test("REAL WAV decode: constant-amplitude PCM16 round-trips exactly") {
    val wav = Media.syntheticWav(frames = 24, amp = 4096, rate = 8000f)
    val f = Media.wavFeatures(wav)
    assert(f(0) == 8000f && f(1) == 1f && f(2) == 24f)
    val v = 4096.0 / 32768.0 // dyadic: meanAbs, rms, peak all exact
    assert(f(3) == v.toFloat && f(4) == v.toFloat && f(5) == v.toFloat)
    assert(f(6) == 24f / 8000f && f(7) == 1f)
    assert(Media.wavFeatures(Array[Byte](1, 2, 3)).toSeq ==
      Seq.fill(8)(0f)) // undecodable -> zeros, row survives
    // through the partition-batch path
    val df = Seq((1L, wav)).toDF("media_id", "payload")
    val got = Media.extractWavFeatures(df)
      .select("features").as[Seq[Float]].head()
    assert(got == f.toSeq)
  }

  test("direct WAV header is byte-identical to the JDK encoder, and the " +
    "JDK decoder reads it back exactly") {
    // byte-compat: pcm16MonoWav (via syntheticWav) vs AudioSystem.write
    // of the same samples — the fast synth path must stay a drop-in
    for ((frames, amp, rate) <- Seq((24, 4096.toShort, 8000f),
      (47, (-1234).toShort, 16000f), (1, 32000.toShort, 8000f))) {
      val direct = Media.syntheticWav(frames, amp, rate)
      val data = new Array[Byte](frames * 2)
      val sb = java.nio.ByteBuffer.wrap(data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      (0 until frames).foreach(i => sb.put(i, amp))
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, frames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      assert(direct.toSeq == bos.toByteArray.toSeq,
        s"frames=$frames: direct header diverged from AudioSystem.write")
      // cross-decoder: the JDK decoder on the direct bytes agrees with
      // decodeWav's fast path sample-for-sample
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(direct))
      val jdkBytes = ais.readAllBytes()
      val jdkSb = java.nio.ByteBuffer.wrap(jdkBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      val jdk = (0 until jdkSb.remaining()).map(jdkSb.get(_) / 32768.0)
      val Some((gotFmt, fast)) = Media.decodeWav(direct)
      assert(fast.toSeq == jdk)
      assert(gotFmt.getSampleRate == rate && gotFmt.getChannels == 1)
    }
    // non-RIFF payloads still route through the fallback: undecodable
    // garbage stays None, and a decodable non-WAV container would too
    assert(Media.decodeWav("notawav".getBytes).isEmpty)
  }

  test("REAL video: multi-frame GIF round-trips frame count, dims, colors") {
    val gif = Media.syntheticGif(3, 2,
      Seq((255, 0, 0), (0, 128, 0), (7, 13, 21), (0, 0, 255)))
    val frames = Media.gifFrames(gif)
    assert(frames.size == 4)
    assert(frames.forall(f => f.getWidth == 3 && f.getHeight == 2))
    // solid indexed-palette frames decode to the exact written colors
    val colors = frames.map(_.getRGB(1, 1) & 0xffffff)
    assert(colors == Seq(0xff0000, 0x008000, (7 << 16) | (13 << 8) | 21,
      0x0000ff))
    assert(Media.gifFrames(Array[Byte](1, 2, 3)).isEmpty) // undecodable
    assert(Media.gifFrames(null).isEmpty)
  }

  test("REAL video: sampleFrames keeps every n-th frame with indices") {
    val gif = Media.syntheticGif(2, 2,
      (0 until 5).map(i => (i * 10, i * 20, i * 30)))
    val sampled = Media.sampleFrames(gif, 2)
    assert(sampled.map(_._1) == Seq(0, 2, 4)) // frame indices
    assert(sampled.forall(_._2 == 5)) // total frame count
    assert(sampled.map(s => (s._3.getRGB(0, 0) >> 16) & 0xff) ==
      Seq(0, 20, 40))
  }

  test("REAL video: extractVideoFrames emits one row per sampled frame") {
    val gif1 = Media.syntheticGif(4, 2, Seq((10, 20, 30), (40, 50, 60),
      (70, 80, 90)))
    val gif2 = Media.syntheticGif(1, 1, Seq((1, 2, 3)))
    val df = Seq((1L, gif1), (2L, gif2), (3L, Array[Byte](9, 9)))
      .toDF("media_id", "payload")
    val got = Media.extractVideoFrames(df, everyNth = 2)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(got == Set(
      (1L, 0L, 3L, 4L, 2L, 10.0, 20.0, 30.0),
      (1L, 2L, 3L, 4L, 2L, 70.0, 80.0, 90.0),
      (2L, 0L, 1L, 1L, 1L, 1.0, 2.0, 3.0)))
    // undecodable payload contributes no frames (row drops out), and the
    // plan has no RDD hop: the decode is a typed MapPartitions
    val plan = Media.extractVideoFrames(df, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
  }

  test("REAL audio windows: two-segment WAV yields per-window RMS rows") {
    // 20 frames: 10 at 4096, 10 at 8192; windows of 8 -> [8x a1],
    // [2x a1 + 6x a2], [4x a2] (partial tail)
    val wav = Media.syntheticWav2(frames = 20, amp1 = 4096, amp2 = 8192)
    val df = Seq((7L, wav), (8L, Array[Byte](1, 2))).toDF("media_id", "payload")
    val got = Media.extractAudioWindows(df, winFrames = 8)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
      Seq((7L, 0L, 3L, 8L), (7L, 1L, 3L, 8L), (7L, 2L, 3L, 4L)))
    val (a1, a2) = (4096.0 / 32768, 8192.0 / 32768)
    val want = Seq(
      math.sqrt(8 * a1 * a1 / 8),
      math.sqrt((2 * a1 * a1 + 6 * a2 * a2) / 8),
      math.sqrt(4 * a2 * a2 / 4))
    got.map(_._5).zip(want).foreach { case (g, w) => assert(g == w) }
    // undecodable payload contributes no rows
    assert(!got.exists(_._1 == 8L))
  }

  test("REAL audio spectral: Parseval holds exactly and the Z[√2] DFT " +
    "matches a from-scratch double-precision DFT") {
    // 20 frames, two segments; windows of 8 -> one pure-a1 window, one
    // mixed, one zero-padded partial — all three shapes covered
    val wav = Media.syntheticWav2(frames = 20, amp1 = 4096, amp2 = 8192)
    val df = Seq((7L, wav), (8L, Array[Byte](1, 2)))
      .toDF("media_id", "payload")
    val got = Media.extractAudioSpectral(df)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
      Seq((7L, 0L, 3L, 8L), (7L, 1L, 3L, 8L), (7L, 2L, 3L, 4L)))
    assert(!got.exists(_._1 == 8L)) // undecodable -> no rows
    // PARSEVAL, exactly: e_tot == 32 * sum_sq on every row (N=8 times
    // the 2^2 twiddle scale) — the energy the window holds in time is
    // the energy its spectrum holds, as an integer identity
    got.foreach { r => assert(r._7 == 32L * r._5, r.toString) }
    // window 0 is constant (all 4096): every non-DC bin cancels, so the
    // whole spectrum is DC and the centroid numerator is zero
    val w0 = got(0)
    assert(w0._6 == w0._7 && w0._8 == 0L && w0._9 == 0L, w0.toString)
    // independent check: from-scratch complex-double DFT of each window
    // (samples from the fixture definition), |X|^2 scaled by 4; the
    // ring arithmetic must agree to fp tolerance on every output
    val samples = (0 until 20).map(i => if (i < 10) 4096L else 8192L)
    for (wi <- 0 until 3) {
      val s = (0 until 8).map { n =>
        val g = wi * 8 + n
        if (g < 20) samples(g).toDouble else 0.0
      }
      val pows = (0 until 8).map { k =>
        val (re, im) = (0 until 8).foldLeft((0.0, 0.0)) {
          case ((a, b), n) =>
            val th = -2.0 * math.Pi * k * n / 8.0
            (a + s(n) * math.cos(th), b + s(n) * math.sin(th))
        }
        4.0 * (re * re + im * im) // twiddle scale 2 -> power scale 4
      }
      val eTot = pows.sum
      val cnum = pows.zipWithIndex
        .map { case (p, k) => math.min(k, 8 - k) * p }.sum
      val r = got(wi)
      val gotETot = r._7.toDouble
      val gotCnum = r._8.toDouble + r._9.toDouble * math.sqrt(2.0)
      assert(math.abs(gotETot - eTot) / math.max(eTot, 1.0) < 1e-12,
        s"win $wi e_tot: $gotETot vs $eTot")
      assert(math.abs(gotCnum - cnum) / math.max(eTot, 1.0) < 1e-12,
        s"win $wi cnum: $gotCnum vs $cnum")
      assert(math.abs(r._6.toDouble - pows.head) /
        math.max(pows.head, 1.0) < 1e-12, s"win $wi p_dc")
    }
  }

  test("REAL video resize: sampled frames scaled per-frame, PNG re-encoded") {
    // 12x6 solid frames -> maxDim 4 scales to 4x2; 2x2 frames pass
    // through unscaled; undecodable payloads contribute no rows
    val gif1 = Media.syntheticGif(12, 6, Seq((255, 0, 0), (0, 128, 0),
      (7, 13, 21)))
    val gif2 = Media.syntheticGif(2, 2, Seq((9, 9, 9)))
    val df = Seq((1L, gif1), (2L, gif2), (3L, Array[Byte](9, 9)))
      .toDF("media_id", "payload")
    val out = Media.resizeVideoFrames(df, maxDim = 4, everyNth = 2)
    assert(out.schema.fieldNames.toSeq ==
      Seq("media_id", "frame_idx", "n_frames", "payload"))
    val rows = out.as[(Long, Long, Long, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(rows.keySet == Set((1L, 0L, 3L), (1L, 2L, 3L), (2L, 0L, 1L)))
    // each emitted frame is a decodable PNG with the scaled geometry and
    // the exact source color (bilinear of a solid is the solid)
    val f10 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows((1L, 0L, 3L))))
    assert(f10.getWidth == 4 && f10.getHeight == 2)
    assert((f10.getRGB(2, 1) & 0xffffff) == 0xff0000)
    val f12 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows((1L, 2L, 3L))))
    assert((f12.getRGB(0, 0) & 0xffffff) == ((7 << 16) | (13 << 8) | 21))
    val f20 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rows((2L, 0L, 1L))))
    assert(f20.getWidth == 2 && f20.getHeight == 2) // never upscales
    assert((f20.getRGB(1, 1) & 0xffffff) == 0x090909)
  }

  test("media_audio_dedup: groups partition docs and collapse exactly " +
      "the doc_id % 40 classes present") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("media_audio_dedup")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("content_hash"),
        r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // fingerprint classes are exactly doc_id % 40 (frames and amp both
    // derive from k), so groups == distinct classes, sizes == class sizes
    val classes = ids.groupBy(_ % 40)
    assert(rows.length == classes.size)
    assert(rows.map(_._3).sum == ids.length, "groups partition the docs")
    val byKeep = rows.map(r => r._2 -> r._3).toMap
    classes.foreach { case (k, members) =>
      assert(byKeep(members.min) == members.length,
        s"class $k: keep_id/min or size mismatch")
    }
    // distinct fingerprints really are distinct (no hash collapse)
    assert(rows.map(_._1).distinct.length == rows.length)
  }
}
