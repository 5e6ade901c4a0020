package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in distributed batches.
  *
  * IMAGE decode is REAL: `javax.imageio` ships in the JDK with PNG/JPEG/
  * BMP/GIF readers, so [[decodeImage]] / [[imageFeatures]] /
  * [[resizeImage]] run an actual decoder (tested end-to-end on generated
  * PNGs in StreamingMediaSpec). AUDIO decode is REAL WAV/PCM via
  * `javax.sound.sampled` ([[decodeWav]]). VIDEO frame decode is REAL over
  * the one multi-frame container the JDK can read — animated GIF — via
  * `ImageReader.getNumImages`/`read(i)` ([[gifFrames]] /
  * [[sampleFrames]] / [[extractVideoFrames]] / [[resizeVideoFrames]]);
  * swap the GIF reader for JavaCV/ffmpeg bindings to cover mp4 et al.,
  * every other line stays as is.
  *
  * Scale design: `mapPartitions` processes whole partitions with one
  * decoder instance per task (amortized init), no per-row UDF overhead, no
  * driver involvement; partition count controls decode parallelism.
  */
object Media {

  /** Canonical media-table schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = false))), nullable = false)))

  /** Attach typed metadata to raw (id, kind, payload) rows — the cheap,
    * fully-expression-based part (no decode needed). */
  def withMeta(df: DataFrame, format: String): DataFrame =
    df.select(col("media_id"), col("kind"), col("payload"),
      struct(lit(format).as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        coalesce(length(col("payload")).cast("long"), lit(0L))
          .as("n_bytes")).as("meta"))

  // decode from memory, not via ImageIO's default disk-backed stream
  // cache — one temp file per read would dominate a batch decode job
  javax.imageio.ImageIO.setUseCache(false)

  /** Reader SPIs resolved ONCE per JVM. `ImageIO.read` /
    * `getImageReaders` scan the IIORegistry under a lock on every call
    * (~tens of µs per tiny payload, and the lock serializes all 32
    * executor threads — the same per-row provider-lookup cost the audio
    * path eliminated with its RIFF fast path). Payloads whose magic
    * bytes identify the format skip the scan entirely; anything else
    * falls back to the full registry lookup, so behavior on exotic
    * containers is unchanged. */
  private lazy val pngSpi: Option[javax.imageio.spi.ImageReaderSpi] = {
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
    if (it.hasNext) Some(it.next().getOriginatingProvider) else None
  }
  private lazy val gifSpi: Option[javax.imageio.spi.ImageReaderSpi] = {
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (it.hasNext) Some(it.next().getOriginatingProvider) else None
  }

  private def magicSpi(payload: Array[Byte])
  : Option[javax.imageio.spi.ImageReaderSpi] =
    if (payload.length >= 8 && (payload(0) & 0xff) == 0x89 &&
      payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G') pngSpi
    else if (payload.length >= 4 && payload(0) == 'G' &&
      payload(1) == 'I' && payload(2) == 'F' && payload(3) == '8') gifSpi
    else None

  /** Decode the first image of a payload with a known-format SPI reader
    * (no registry scan); None if the SPI route fails for any reason so
    * callers can fall back. */
  private def readViaSpi(payload: Array[Byte],
      spi: javax.imageio.spi.ImageReaderSpi)
  : Option[java.awt.image.BufferedImage] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val reader = spi.createReaderInstance()
      try {
        reader.setInput(iis)
        Option(reader.read(0))
      } catch { case _: Exception => None }
      finally reader.dispose()
    } finally iis.close()
  }

  /** REAL image decode via the JDK's ImageIO: returns (width, height,
    * pixels) or None for null/undecodable payloads. PNG/GIF payloads
    * (identified by magic bytes) decode through the cached SPI — no
    * per-row IIORegistry scan; everything else takes `ImageIO.read`. */
  def decodeImage(payload: Array[Byte])
  : Option[java.awt.image.BufferedImage] =
    if (payload == null || payload.isEmpty) None
    else magicSpi(payload).flatMap(readViaSpi(payload, _)).orElse(
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))))

  /** 8 deterministic floats from a decoded image: width, height, aspect,
    * mean R/G/B over all pixels, mean luma (Rec. 601), and 1.0 as a
    * decode-success flag; all-zero for undecodable payloads (so bad rows
    * survive the pipeline and can be filtered on features[7] = 0). */
  def imageFeatures(payload: Array[Byte]): Array[Float] =
    decodeImage(payload) match {
      case None => new Array[Float](8)
      case Some(img) =>
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0.0, 0.0, 0.0)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff
            sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toDouble
        val (mr, mg, mb) = (sr / n, sg / n, sb / n)
        Array(w.toFloat, h.toFloat, w.toFloat / h.toFloat,
          mr.toFloat, mg.toFloat, mb.toFloat,
          (0.299 * mr + 0.587 * mg + 0.114 * mb).toFloat, 1f)
    }

  /** Bilinear downscale so max(width, height) == maxDim; returns None when
    * no scaling is needed (never upscales). Shared by the still-image and
    * per-video-frame resize paths. */
  private def scaleImage(img: java.awt.image.BufferedImage, maxDim: Int)
  : Option[java.awt.image.BufferedImage] = {
    val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
    if (scale >= 1.0) None
    else {
      val (nw, nh) = (math.max(1, (img.getWidth * scale).toInt),
        math.max(1, (img.getHeight * scale).toInt))
      val out = new java.awt.image.BufferedImage(nw, nh,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, nw, nh, null)
      g.dispose()
      Some(out)
    }
  }

  /** Lossless PNG encode of a decoded frame/image. */
  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image resize: decode, scale so max(width, height) == maxDim
    * (never upscales), re-encode as PNG. Undecodable payloads pass through
    * unchanged (same survival contract as [[imageFeatures]]). */
  def resizeImage(payload: Array[Byte], maxDim: Int): Array[Byte] =
    decodeImage(payload) match {
      case None => payload
      case Some(img) => scaleImage(img, maxDim).fold(payload)(encodePng)
    }

  /** REAL WAV/PCM decode: returns the normalized 16-bit samples and
    * format, or None for null/undecodable payloads.
    *
    * Hot path is a direct RIFF chunk parse — standard "RIFF/WAVE" with a
    * PCM (tag 1) 16-bit fmt chunk and a data chunk, the shape every WAV
    * writer (including the JDK's) emits. `AudioSystem.getAudioInputStream`
    * goes through a SYNCHRONIZED provider lookup per call (JDK13Services),
    * which both costs ~45 µs per tiny payload and serializes executor
    * threads under local[32]; the direct parse is ~1 µs and lock-free.
    * Anything the fast path does not recognize (non-RIFF containers,
    * compressed codecs) falls back to the JDK decoder, preserving the
    * original semantics — 16-bit little-endian PCM or None. */
  def decodeWav(payload: Array[Byte])
  : Option[(javax.sound.sampled.AudioFormat, Array[Double])] =
    if (payload == null || payload.isEmpty) None
    else riffPcm16(payload) match {
      case some @ Some(_) => some
      case None => decodeWavJdk(payload)
    }

  /** Direct parse of a canonical RIFF/WAVE PCM16LE payload; None when the
    * payload is not that shape (caller falls back to the JDK decoder). */
  private def riffPcm16(p: Array[Byte])
  : Option[(javax.sound.sampled.AudioFormat, Array[Double])] = {
    if (p.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(p)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt(0) != 0x46464952 /* "RIFF" */ ||
      bb.getInt(8) != 0x45564157 /* "WAVE" */) return None
    var off = 12
    var haveFmt = false
    var channels = 0
    var rate = 0
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= p.length && (!haveFmt || dataOff < 0)) {
      val id = bb.getInt(off)
      val sz = bb.getInt(off + 4)
      if (sz < 0 || off + 8 + sz > p.length) return None
      if (id == 0x20746d66) { // "fmt "
        if (sz < 16) return None
        val tag = bb.getShort(off + 8)
        channels = bb.getShort(off + 10)
        rate = bb.getInt(off + 12)
        val bits = bb.getShort(off + 22)
        // only plain 16-bit PCM on the fast path; anything else routes
        // through the JDK decoder (which e.g. rejects 8-bit as != 16)
        if (tag != 1 || bits != 16 || channels < 1 || rate <= 0) return None
        haveFmt = true
      } else if (id == 0x61746164) { // "data"
        dataOff = off + 8
        dataLen = sz
      }
      off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
    }
    if (!haveFmt || dataOff < 0) return None
    val n = dataLen / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getShort(dataOff + 2 * i) / 32768.0; i += 1 }
    Some((new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, channels, true, false), out))
  }

  /** The original JDK `javax.sound.sampled` path — fallback for payloads
    * the RIFF fast path does not recognize. */
  private def decodeWavJdk(payload: Array[Byte])
  : Option[(javax.sound.sampled.AudioFormat, Array[Double])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
      else {
        val bytes = ais.readAllBytes()
        val sb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
        val out = new Array[Double](sb.remaining())
        var i = 0
        while (i < out.length) { out(i) = sb.get(i) / 32768.0; i += 1 }
        Some((fmt, out))
      }
    } catch { case _: Exception => None }

  /** 8 deterministic floats from a decoded WAV: sample rate, channels,
    * frame count, mean |sample|, RMS, peak |sample|, duration seconds,
    * and 1.0 as a decode-success flag; all-zero when undecodable (same
    * survival contract as [[imageFeatures]]). */
  def wavFeatures(payload: Array[Byte]): Array[Float] =
    decodeWav(payload) match {
      case None => new Array[Float](8)
      case Some((fmt, samples)) =>
        var (sa, sq, pk) = (0.0, 0.0, 0.0)
        var i = 0
        while (i < samples.length) {
          val a = math.abs(samples(i))
          sa += a
          sq += samples(i) * samples(i)
          if (a > pk) pk = a
          i += 1
        }
        val n = math.max(samples.length, 1).toDouble
        val frames = samples.length / fmt.getChannels
        Array(fmt.getSampleRate, fmt.getChannels.toFloat, frames.toFloat,
          (sa / n).toFloat, math.sqrt(sq / n).toFloat, pk.toFloat,
          frames.toFloat / fmt.getSampleRate, 1f)
    }

  /** Partition-parallel REAL WAV feature extraction. */
  def extractWavFeatures(df: DataFrame): DataFrame =
    extractWith(df, wavFeatures)

  /** Windowed RMS over a decoded WAV: REAL decode, then one row per
    * fixed-size window of `winFrames` frames (mono assumed; the last
    * window may be partial) — the audio analog of video frame sampling.
    * Typed `Dataset.mapPartitions`; one decode per payload. Input:
    * (media_id: long, payload: binary); output: (media_id, win_idx,
    * n_win, n_frames_in_win, rms). Undecodable payloads contribute no
    * rows. */
  def extractAudioWindows(df: DataFrame, winFrames: Int): DataFrame = {
    require(winFrames >= 1, s"winFrames must be >= 1, got $winFrames")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWav(payload) match {
          case None => Iterator.empty
          case Some((_, samples)) =>
            val nWin = (samples.length + winFrames - 1) / winFrames
            (0 until nWin).iterator.map { wi =>
              val lo = wi * winFrames
              val hi = math.min(lo + winFrames, samples.length)
              var sq = 0.0
              var i = lo
              while (i < hi) { sq += samples(i) * samples(i); i += 1 }
              (id, wi.toLong, nWin.toLong, (hi - lo).toLong,
                math.sqrt(sq / (hi - lo)))
            }
        }
      })
      .toDF("media_id", "win_idx", "n_win", "n_frames_in_win", "rms")
  }

  /** Exact 8-point spectral profile per audio window — the FFT-role
    * operator of the LLM-pipeline audio-quality filter, computed in the
    * ring Z[√2] so every output is an EXACT INTEGER (pair) both engines
    * reproduce bit-for-bit.
    *
    * The 8th roots of unity have coordinates in {0, ±1, ±√2/2}; scaled
    * by 2 they all live in Z[√2] = {a + b·√2 : a, b ∈ Z} — so the DFT
    * X[k] = Σₙ s[n]·2e^(-2πikn/8) of integer PCM16 samples is computed
    * with INTEGER (a, b) pairs, no floating point and no transcendental
    * calls anywhere (a textbook float FFT would hang cross-engine
    * parity on cos() ulps; here √2 is exact BY REPRESENTATION — the
    * same replayability discipline as the PCA fixed power iteration,
    * but with zero fp noise). Direct 64-multiply evaluation per window
    * is chosen over a butterfly: at N=8 the butterfly saves nothing and
    * the direct form keeps one uniform scale (each term carries exactly
    * one 2× twiddle, so |X[k]|² = 4·|DFT[k]|² for every k).
    *
    * Per window of 8 frames (zero-padded tail — the standard FFT
    * convention for partials) the output row carries:
    *  - `sum_sq`   = Σ s[n]²                      (time-domain energy)
    *  - `p_dc`     = |X[0]|²                      (DC power, pure int)
    *  - `e_tot`    = Σₖ |X[k]|²                   (spectral energy)
    *  - `cnum_a/b` = Σₖ min(k, 8−k)·|X[k]|² as a + b√2 — the spectral-
    *    centroid NUMERATOR (denominator is e_tot; the division is left
    *    to the consumer so the stored profile stays exact)
    * PARSEVAL is an exact integer identity here: e_tot == 32·sum_sq
    * (N=8 times the 2² twiddle scale), `require`d per window and pinned
    * against the real decode path in StreamingMediaSpec. |X[k]|² for a
    * value (ra + rb√2) + i(ia + ib√2) is (ra² + 2rb² + ia² + 2ib²) +
    * 2(ra·rb + ia·ib)·√2 — still in the ring; the √2-parts of e_tot
    * cancel exactly (Parseval's sum is rational), which the require
    * also witnesses.
    *
    * Input: (media_id: long, payload: binary WAV). Output: (media_id,
    * win_idx, n_win, n_frames_in_win, sum_sq, p_dc, e_tot, cnum_a,
    * cnum_b) — all bigint. Undecodable payloads contribute no rows.
    * Bounds: |s| ≤ 32768 ⇒ |X parts| < 2²⁰, powers < 2⁴², centroid
    * numerators < 2⁴⁷ — no overflow for any PCM16 input. */
  def extractAudioSpectral(df: DataFrame): DataFrame = {
    val N = 8
    // W[j] = 2·e^(-2πij/8) as (reA, reB, imA, imB): value = a + b·√2
    val creA = Array(2L, 0L, 0L, 0L, -2L, 0L, 0L, 0L)
    val creB = Array(0L, 1L, 0L, -1L, 0L, -1L, 0L, 1L)
    val cimA = Array(0L, 0L, -2L, 0L, 0L, 0L, 2L, 0L)
    val cimB = Array(0L, -1L, 0L, -1L, 0L, 1L, 0L, 1L)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWav(payload) match {
          case None => Iterator.empty
          case Some((_, samples)) =>
            val nWin = (samples.length + N - 1) / N
            (0 until nWin).iterator.map { wi =>
              val lo = wi * N
              val hi = math.min(lo + N, samples.length)
              // recover the exact PCM16 integer (decode normalized by
              // 32768, a dyadic scale — the round-trip is exact)
              val s = new Array[Long](N)
              var i = lo
              while (i < hi) {
                s(i - lo) = math.round(samples(i) * 32768.0); i += 1
              }
              var sumSq = 0L
              var n = 0
              while (n < N) { sumSq += s(n) * s(n); n += 1 }
              var eTotA = 0L; var eTotB = 0L
              var pDc = 0L; var cnumA = 0L; var cnumB = 0L
              var k = 0
              while (k < N) {
                var xra = 0L; var xrb = 0L; var xia = 0L; var xib = 0L
                n = 0
                while (n < N) {
                  val j = (k * n) % N
                  val v = s(n)
                  xra += v * creA(j); xrb += v * creB(j)
                  xia += v * cimA(j); xib += v * cimB(j)
                  n += 1
                }
                val pa = xra * xra + 2 * xrb * xrb +
                  xia * xia + 2 * xib * xib
                val pb = 2 * (xra * xrb + xia * xib)
                if (k == 0) pDc = pa
                eTotA += pa; eTotB += pb
                val fk = math.min(k, N - k).toLong
                cnumA += fk * pa; cnumB += fk * pb
                k += 1
              }
              // Parseval in Z[√2]: exact, or the transform is broken
              require(eTotA == 32L * sumSq && eTotB == 0L,
                s"Parseval violated: e_tot=($eTotA,$eTotB), " +
                  s"32*sum_sq=${32L * sumSq}")
              (id, wi.toLong, nWin.toLong, (hi - lo).toLong,
                sumSq, pDc, eTotA, cnumA, cnumB)
            }
        }
      })
      .toDF("media_id", "win_idx", "n_win", "n_frames_in_win",
        "sum_sq", "p_dc", "e_tot", "cnum_a", "cnum_b")
  }

  /** Canonical 44-byte RIFF/WAVE header + PCM16LE mono samples — the
    * byte layout the JDK's WAVE writer emits for this shape, written
    * directly: `AudioSystem.write` costs ~54 µs per tiny payload in a
    * synchronized provider lookup and serializes executor threads, vs
    * ~1 µs for the direct header (measured; byte-compat asserted against
    * the JDK round trip in MediaSpec). */
  private def pcm16MonoWav(data: Array[Byte], rate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + data.length)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x46464952)           // "RIFF"
    bb.putInt(36 + data.length)
    bb.putInt(0x45564157)           // "WAVE"
    bb.putInt(0x20746d66)           // "fmt "
    bb.putInt(16)                   // PCM fmt chunk size
    bb.putShort(1)                  // PCM tag
    bb.putShort(1)                  // mono
    bb.putInt(rate)
    bb.putInt(rate * 2)             // byte rate = rate * block align
    bb.putShort(2)                  // block align (1 ch x 16 bit)
    bb.putShort(16)                 // bits per sample
    bb.putInt(0x61746164)           // "data"
    bb.putInt(data.length)
    bb.put(data)
    out
  }

  /** Two-segment PCM16 mono WAV fixture: the first half of the frames at
    * `amp1`, the rest at `amp2` — windowed RMS values stay analytically
    * predictable (each window mixes a known count of each amplitude). */
  def syntheticWav2(frames: Int, amp1: Short, amp2: Short,
                    rate: Float = 8000f): Array[Byte] = {
    val data = new Array[Byte](frames * 2)
    val sb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    val half = frames / 2
    var i = 0
    while (i < frames) { sb.put(i, if (i < half) amp1 else amp2); i += 1 }
    pcm16MonoWav(data, rate.toInt)
  }

  /** Deterministic constant-amplitude PCM16 mono WAV (fixture generator:
    * every decoded feature is analytically predictable — constant samples
    * make meanAbs, RMS, and peak all exactly amp/32768, a dyadic
    * rational). Canonical header via [[pcm16MonoWav]]. */
  def syntheticWav(frames: Int, amp: Short, rate: Float = 8000f)
  : Array[Byte] = {
    val data = new Array[Byte](frames * 2)
    val sb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
    var i = 0
    while (i < frames) { sb.put(i, amp); i += 1 }
    pcm16MonoWav(data, rate.toInt)
  }

  /** Deterministic solid-color PNG (test/verification fixture generator:
    * every feature of the decoded image is analytically predictable). */
  def syntheticPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL multi-frame decode: every frame of an animated (or single-frame)
    * GIF through the JDK's ImageIO `ImageReader`; Nil for null/undecodable
    * payloads. Our synthetic fixtures write full-size frames, so no
    * disposal-method compositing is needed — each `read(i)` IS the frame. */
  def gifFrames(payload: Array[Byte]): Seq[java.awt.image.BufferedImage] =
    if (payload == null || payload.isEmpty) Nil
    else {
      // GIF magic → cached SPI reader (no per-row IIORegistry scan —
      // see decodeImage's Scaladoc); other containers take the full
      // registry lookup as before
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readerOpt = magicSpi(payload) match {
          case Some(spi) => Some(spi.createReaderInstance())
          case None =>
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (readers.hasNext) Some(readers.next()) else None
        }
        readerOpt match {
          case None => Nil
          case Some(reader) =>
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n).map(reader.read)
            } catch { case _: Exception => Nil }
            finally reader.dispose()
        }
      } finally iis.close()
    }

  /** REAL frame sampling: decode the container once, keep frames
    * 0, n, 2n, ... — returns (frameIdx, totalFrames, frame). This is the
    * video path (replaces the earlier byte-chunk stand-in). */
  def sampleFrames(payload: Array[Byte], everyNth: Int)
  : Seq[(Int, Int, java.awt.image.BufferedImage)] = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    val frames = gifFrames(payload)
    frames.indices.collect {
      case i if i % everyNth == 0 => (i, frames.size, frames(i))
    }
  }

  /** Mean R/G/B of one decoded frame (solid-color fixture frames make
    * these exact integers). */
  private def meanRgb(img: java.awt.image.BufferedImage)
  : (Double, Double, Double) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    (sr / n, sg / n, sb / n)
  }

  /** Partition-parallel REAL video-frame extraction: one row per SAMPLED
    * frame — (media_id, frame_idx, n_frames, w, h, mean_r, mean_g,
    * mean_b). Typed `Dataset.mapPartitions` (Tungsten-encoded both sides,
    * no RDD/Row round-trip); one reader per payload, frames decoded once
    * per container. Input: (media_id: long, payload: binary). */
  def extractVideoFrames(df: DataFrame, everyNth: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        sampleFrames(payload, everyNth).map { case (idx, n, img) =>
          val (mr, mg, mb) = meanRgb(img)
          (id, idx.toLong, n.toLong, img.getWidth.toLong,
            img.getHeight.toLong, mr, mg, mb)
        }
      })
      .toDF("media_id", "frame_idx", "n_frames", "w", "h",
        "mean_r", "mean_g", "mean_b")
  }

  /** Deterministic multi-frame GIF fixture: one solid-color full-size
    * frame per entry of `colors`. Frames are `TYPE_BYTE_INDEXED` with an
    * explicit two-entry palette so the GIF encoder stores OUR colors
    * verbatim (an RGB input could be quantized/dithered) — decoded
    * features stay analytically predictable. */
  def syntheticGif(w: Int, h: Int, colors: Seq[(Int, Int, Int)])
  : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      colors.foreach { case (r, g, b) =>
        val icm = new java.awt.image.IndexColorModel(8, 2,
          Array(r.toByte, 0.toByte), Array(g.toByte, 0.toByte),
          Array(b.toByte, 0.toByte))
        // raster initializes to index 0 = the frame color
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL video resize: decode the container, keep frames 0, everyNth,
    * 2*everyNth, ..., bilinear-downscale each to `maxDim` (never
    * upscales), and emit one losslessly PNG-encoded frame per row —
    * (media_id, frame_idx, n_frames, payload). Per-frame image output is
    * the training-pipeline shape (each frame feeds the image path:
    * [[extractImageFeatures]], further resizes, dedup); undecodable
    * containers contribute no rows. Typed `Dataset.mapPartitions`: one
    * reader per payload, frames decoded once, no RDD/Row hop. */
  def resizeVideoFrames(df: DataFrame, maxDim: Int, everyNth: Int = 1)
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        sampleFrames(payload, everyNth).map { case (idx, n, img) =>
          (id, idx.toLong, n.toLong,
            encodePng(scaleImage(img, maxDim).getOrElse(img)))
        }
      })
      .toDF("media_id", "frame_idx", "n_frames", "payload")
  }

  /** Partition-parallel REAL image feature extraction — [[extractWith]]
    * over the ImageIO decoder. */
  def extractImageFeatures(df: DataFrame): DataFrame =
    extractWith(df, imageFeatures)

  /** Partition-parallel feature extraction over the payload column.
    * One decode pass per partition iterator — the `mapInPandas`-style
    * batch contract, JVM edition. The default decoder is the REAL image
    * path ([[imageFeatures]]); pass [[wavFeatures]] (or any
    * payload-to-floats function) via [[extractWith]]'s callers
    * ([[extractWavFeatures]]) for other modalities. */
  def extractFeatures(df: DataFrame): DataFrame =
    extractWith(df, imageFeatures)

  private def extractWith(df: DataFrame,
                          decode: Array[Byte] => Array[Float]): DataFrame = {
    val schema = StructType(df.schema.fields.filterNot(_.name == "payload") :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val payloadIdx = df.schema.fieldIndex("payload")
    val keptIdx = df.schema.indices.filterNot(_ == payloadIdx).toArray
    // typed mapPartitions with an explicit Row encoder: stays inside the
    // Dataset lineage (serialize/deserialize planned by Catalyst), no
    // df.rdd hop that would strip the Tungsten format above the decode
    df.mapPartitions { rows =>
      // per-task decoder init would go here (amortized across the partition)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out = new Array[Any](keptIdx.length + 1)
        var i = 0
        while (i < keptIdx.length) { out(i) = r.get(keptIdx(i)); i += 1 }
        out(keptIdx.length) = decode(payload).toSeq
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

}
