package graft
package registry

import SparkEntry.tbl
import org.apache.spark.sql.functions._

/** Multimodal (image / audio / video) metadata operators. */
private[graft] object MediaQueries {

  val queries: Seq[Query] = Seq(

    // Multimodal plumbing, driver-checked: synthetic media table (payload
    // = UTF-8 bytes of text), typed metadata via Media.withMeta — the
    // oracle independently recomputes the byte length and payload md5,
    // pinning the Spark-side binary contract: opaque binary column, typed
    // metadata struct, content hashing over raw bytes.
    Query("media_metadata", (s, dir) => {
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      graft.multimodal.Media.withMeta(media, "utf8")
        .select(col("media_id"), col("kind"), col("meta.format").as("format"),
          md5(col("payload")).as("payload_md5"),
          col("meta.n_bytes").as("n_bytes"))
    },
      """SELECT doc_id AS media_id, source AS kind, 'utf8' AS format,
        |       md5(text) AS payload_md5,
        |       cast(octet_length(encode(text)) AS bigint) AS n_bytes
        |FROM documents""".stripMargin),

    // REAL image decode, driver-checked: synthesize a solid-color PNG per
    // doc (dims/color derived from doc_id), push it through the actual
    // ImageIO decoder in the partition-batch path, and emit the decoded
    // features — every one of which the oracle predicts analytically from
    // doc_id (PNG is lossless, solid colors round-trip exactly)
    Query("media_image_decode", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.multimodal.Media.syntheticPng(
            (1 + id % 13).toInt, (1 + id % 7).toInt,
            (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractImageFeatures(media)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("double").as("w"),
          element_at(col("features"), 2).cast("double").as("h"),
          element_at(col("features"), 3).cast("double").as("aspect"),
          element_at(col("features"), 4).cast("double").as("mean_r"),
          element_at(col("features"), 5).cast("double").as("mean_g"),
          element_at(col("features"), 6).cast("double").as("mean_b"),
          element_at(col("features"), 7).cast("double").as("luma"))
    },
      // float (REAL) narrowing mirrors the engine's Float features; solid
      // colors make every mean exact
      """SELECT doc_id AS media_id,
        |       cast(1 + doc_id % 13 AS double) AS w,
        |       cast(1 + doc_id % 7 AS double) AS h,
        |       cast(cast(1 + doc_id % 13 AS REAL)
        |            / cast(1 + doc_id % 7 AS REAL) AS double) AS aspect,
        |       cast(doc_id % 256 AS double) AS mean_r,
        |       cast(doc_id * 7 % 256 AS double) AS mean_g,
        |       cast(doc_id * 13 % 256 AS double) AS mean_b,
        |       cast(cast(cast(0.299 AS double) * (doc_id % 256)
        |                 + cast(0.587 AS double) * (doc_id * 7 % 256)
        |                 + cast(0.114 AS double) * (doc_id * 13 % 256)
        |            AS REAL) AS double) AS luma
        |FROM documents""".stripMargin),

    // Decode-based exact image dedup (the LAION-style multimodal dedup
    // pass): payloads are synthesized with REPEATS by construction
    // (pattern key = doc_id % 50, so ~10 byte-identical images per key at
    // 500 docs), every payload goes through the REAL ImageIO decode, and
    // the dedup key is a fingerprint of the DECODED content (geometry +
    // per-channel means — robust to container-level byte differences,
    // which is why content dedup beats md5-of-payload for media). One
    // decode scan -> hash-groupBy; the shuffle carries one fingerprint
    // row per image.
    Query("media_image_dedup", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 50
          (id, graft.multimodal.Media.syntheticPng(
            (1 + k % 13).toInt, (1 + k % 7).toInt,
            (k % 256).toInt, (k * 7 % 256).toInt, (k * 13 % 256).toInt))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractImageFeatures(media)
        .select(col("media_id"),
          md5(concat_ws(",",
            element_at(col("features"), 1).cast("long"),
            element_at(col("features"), 2).cast("long"),
            element_at(col("features"), 4).cast("long"),
            element_at(col("features"), 5).cast("long"),
            element_at(col("features"), 6).cast("long")).cast("binary"))
            .as("content_hash"))
        .groupBy(col("content_hash"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
    },
      // the decoded content of a solid PNG is its geometry + exact channel
      // means, all analytic in the pattern key k = doc_id % 50
      """WITH k AS (SELECT doc_id, doc_id % 50 AS k FROM documents)
        |SELECT md5(concat_ws(',', 1 + k % 13, 1 + k % 7,
        |                     k % 256, k * 7 % 256, k * 13 % 256))
        |         AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM k GROUP BY 1""".stripMargin),

    // REAL audio decode, driver-checked: constant-amplitude PCM16 WAV per
    // doc through the JDK's javax.sound.sampled round trip; constant
    // samples make meanAbs = RMS = peak = amp/32768 exactly (dyadic), so
    // the oracle predicts every decoded feature analytically
    Query("media_audio_decode", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.multimodal.Media.syntheticWav(
            (16 + id % 32).toInt, ((id % 1000 + 1) * 16).toShort))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractWavFeatures(media)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("double").as("rate"),
          element_at(col("features"), 2).cast("double").as("channels"),
          element_at(col("features"), 3).cast("double").as("frames"),
          element_at(col("features"), 5).cast("double").as("rms"),
          element_at(col("features"), 6).cast("double").as("peak"),
          element_at(col("features"), 7).cast("double").as("dur_sec"))
    },
      """SELECT doc_id AS media_id,
        |       cast(8000 AS double) AS rate,
        |       cast(1 AS double) AS channels,
        |       cast(16 + doc_id % 32 AS double) AS frames,
        |       cast(cast(cast((doc_id % 1000 + 1) * 16 AS double) / 32768
        |            AS REAL) AS double) AS rms,
        |       cast(cast(cast((doc_id % 1000 + 1) * 16 AS double) / 32768
        |            AS REAL) AS double) AS peak,
        |       cast(cast(cast(16 + doc_id % 32 AS REAL) / cast(8000 AS REAL)
        |            AS REAL) AS double) AS dur_sec
        |FROM documents""".stripMargin),

    // REAL image resize end-to-end: synthetic solid PNG per doc, actual
    // ImageIO decode -> bilinear scale to maxDim 4 (never upscaling) ->
    // PNG re-encode, then decode AGAIN through the feature path. The
    // oracle reproduces the integer geometry (trunc(dim * 4.0/maxdim))
    // and colors analytically (bilinear of a constant is the constant).
    Query("media_image_resize", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val png = graft.multimodal.Media.syntheticPng(
            (1 + id % 13).toInt, (1 + id % 7).toInt,
            (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)
          (id, graft.multimodal.Media.resizeImage(png, maxDim = 4))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractImageFeatures(media)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("long").as("w"),
          element_at(col("features"), 2).cast("long").as("h"),
          element_at(col("features"), 4).cast("double").as("mean_r"),
          element_at(col("features"), 5).cast("double").as("mean_g"),
          element_at(col("features"), 6).cast("double").as("mean_b"))
    },
      // integer geometry: scale = 4.0/max(w,h); no upscale; trunc toward
      // zero matches Java's (int) cast; colors survive bilinear exactly
      // because the source frames are constant
      """WITH g AS (
        |  SELECT doc_id,
        |         cast(1 + doc_id % 13 AS bigint) AS w0,
        |         cast(1 + doc_id % 7 AS bigint) AS h0
        |  FROM documents
        |)
        |SELECT doc_id AS media_id,
        |       CASE WHEN greatest(w0, h0) <= 4 THEN w0
        |            ELSE greatest(1, cast(trunc(w0 * (4.0 / greatest(w0, h0)))
        |                             AS bigint)) END AS w,
        |       CASE WHEN greatest(w0, h0) <= 4 THEN h0
        |            ELSE greatest(1, cast(trunc(h0 * (4.0 / greatest(w0, h0)))
        |                             AS bigint)) END AS h,
        |       cast(doc_id % 256 AS double) AS mean_r,
        |       cast(doc_id * 7 % 256 AS double) AS mean_g,
        |       cast(doc_id * 13 % 256 AS double) AS mean_b
        |FROM g""".stripMargin),

    // REAL windowed audio analysis: two-segment PCM16 WAV per doc through
    // the actual javax.sound decoder, then one row per 8-frame window
    // with its RMS — window counts, partial tails, and every RMS value
    // are analytic (dyadic amplitudes; windows mix a known count of each
    // segment, and all partial sums stay exactly representable)
    Query("media_audio_windows", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.multimodal.Media.syntheticWav2(
            (16 + id % 32).toInt,
            ((id % 1000 + 1) * 16).toShort,
            ((id % 700 + 1) * 20).toShort))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractAudioWindows(media, winFrames = 8)
        .select(col("media_id"), col("win_idx"), col("n_win"),
          col("n_frames_in_win"), round(col("rms"), 6).as("rms"))
    },
      // first half of the frames at a1, rest at a2; window w covers frames
      // [8w, min(8w+8, F)); n1 = frames of segment 1 inside the window
      """WITH g AS (
        |  SELECT doc_id,
        |         cast(16 + doc_id % 32 AS bigint) AS f,
        |         cast((doc_id % 1000 + 1) * 16 AS double) / 32768 AS a1,
        |         cast((doc_id % 700 + 1) * 20 AS double) / 32768 AS a2
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, f, a1, a2, i,
        |         least(i * 8 + 8, f) - i * 8 AS n,
        |         greatest(0, least(least(i * 8 + 8, f), f // 2) - i * 8)
        |           AS n1
        |  FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5)) AS t(i)
        |  WHERE i * 8 < f
        |)
        |SELECT doc_id AS media_id,
        |       cast(i AS bigint) AS win_idx,
        |       cast((f + 7) // 8 AS bigint) AS n_win,
        |       cast(n AS bigint) AS n_frames_in_win,
        |       round(sqrt((n1 * a1 * a1 + (n - n1) * a2 * a2) / n), 6)
        |         AS rms
        |FROM w""".stripMargin),

    // REAL spectral audio analysis, exact to the last bit: the same
    // two-segment WAV through the actual decoder, then an 8-point DFT
    // per window computed in the ring Z[√2] (twiddles 2·e^(-2πik/8) are
    // all a+b√2 with integer a, b) — every per-bin power, the spectral
    // energy, and the centroid numerator are exact INTEGERS, and
    // Parseval (e_tot == 32·sum_sq) is an integer identity required
    // per window in-path. The oracle replays the identical integer
    // arithmetic from the analytic fixture (no cos() on either side).
    Query("media_audio_spectral", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.multimodal.Media.syntheticWav2(
            (16 + id % 32).toInt,
            ((id % 1000 + 1) * 16).toShort,
            ((id % 700 + 1) * 20).toShort))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractAudioSpectral(media)
    },
      // from-scratch integer replay of the Z[√2] 8-point DFT: sample s at
      // global frame g = 8i+n is a1 below f/2, a2 below f, 0 (zero-pad)
      // after; twiddle 2·e^(-2πij/8) at j=(k*n)%8 has (re, im) components
      // (a, b) with value a+b√2, hard-coded on both sides — no cos()
      // anywhere; |X|² = (ra²+2rb²+ia²+2ib²) + 2(ra·rb+ia·ib)·√2
      """WITH g AS (
        |  SELECT doc_id,
        |         cast(16 + doc_id % 32 AS bigint) AS f,
        |         cast((doc_id % 1000 + 1) * 16 AS bigint) AS a1,
        |         cast((doc_id % 700 + 1) * 20 AS bigint) AS a2
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, f, a1, a2, i,
        |         least(i * 8 + 8, f) - i * 8 AS n_in
        |  FROM g CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5)) AS t(i)
        |  WHERE i * 8 < f
        |), x AS (
        |  SELECT doc_id, i, f, n_in, k, n,
        |         CASE WHEN i * 8 + n >= f THEN 0
        |              WHEN i * 8 + n < f // 2 THEN a1 ELSE a2 END AS s,
        |         (k * n) % 8 AS j
        |  FROM w
        |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS tk(k)
        |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS tn(n)
        |), bins AS (
        |  SELECT doc_id, i, f, n_in, k,
        |    sum(s * CASE j WHEN 0 THEN 2 WHEN 4 THEN -2 ELSE 0 END)
        |      AS xra,
        |    sum(s * CASE j WHEN 1 THEN 1 WHEN 7 THEN 1
        |                   WHEN 3 THEN -1 WHEN 5 THEN -1 ELSE 0 END)
        |      AS xrb,
        |    sum(s * CASE j WHEN 2 THEN -2 WHEN 6 THEN 2 ELSE 0 END)
        |      AS xia,
        |    sum(s * CASE j WHEN 5 THEN 1 WHEN 7 THEN 1
        |                   WHEN 1 THEN -1 WHEN 3 THEN -1 ELSE 0 END)
        |      AS xib
        |  FROM x GROUP BY 1, 2, 3, 4, 5
        |), pw AS (
        |  SELECT doc_id, i, f, n_in, k,
        |         xra*xra + 2*xrb*xrb + xia*xia + 2*xib*xib AS pa,
        |         2 * (xra*xrb + xia*xib) AS pb
        |  FROM bins
        |), agg AS (
        |  SELECT doc_id, i, f, n_in,
        |         sum(pa) AS e_tot,
        |         sum(CASE WHEN k = 0 THEN pa ELSE 0 END) AS p_dc,
        |         sum(least(k, 8 - k) * pa) AS cnum_a,
        |         sum(least(k, 8 - k) * pb) AS cnum_b
        |  FROM pw GROUP BY 1, 2, 3, 4
        |), ss AS (
        |  SELECT doc_id, i, sum(s * s) AS sum_sq
        |  FROM x WHERE k = 0 GROUP BY 1, 2
        |)
        |SELECT agg.doc_id AS media_id,
        |       cast(agg.i AS bigint) AS win_idx,
        |       cast((f + 7) // 8 AS bigint) AS n_win,
        |       cast(n_in AS bigint) AS n_frames_in_win,
        |       cast(sum_sq AS bigint) AS sum_sq,
        |       cast(p_dc AS bigint) AS p_dc,
        |       cast(e_tot AS bigint) AS e_tot,
        |       cast(cnum_a AS bigint) AS cnum_a,
        |       cast(cnum_b AS bigint) AS cnum_b
        |FROM agg JOIN ss ON agg.doc_id = ss.doc_id AND agg.i = ss.i"""
        .stripMargin),

    // REAL video-frame sampling, driver-checked: synthesize a multi-frame
    // animated GIF per doc (frame count, dims, and per-frame solid colors
    // all derived from doc_id), decode every frame through the JDK's
    // ImageIO ImageReader, keep every 2nd frame, and emit one row per
    // sampled frame — the oracle reproduces frames and colors analytically
    // (indexed-palette GIF round-trips solid colors exactly)
    Query("media_video_frames", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (2 + id % 4).toInt
          val colors = (0 until n).map(i => (
            ((id + 17 * i) % 256).toInt,
            ((id * 3 + 29 * i) % 256).toInt,
            ((id * 5 + 41 * i) % 256).toInt))
          (id, graft.multimodal.Media.syntheticGif(
            (1 + id % 3).toInt, (1 + id % 2).toInt, colors))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractVideoFrames(media, everyNth = 2)
    },
      // one row per sampled (every-2nd) frame; solid indexed-palette frames
      // make every decoded mean an exact integer
      """SELECT doc_id AS media_id,
        |       cast(i AS bigint) AS frame_idx,
        |       cast(2 + doc_id % 4 AS bigint) AS n_frames,
        |       cast(1 + doc_id % 3 AS bigint) AS w,
        |       cast(1 + doc_id % 2 AS bigint) AS h,
        |       cast((doc_id + 17 * i) % 256 AS double) AS mean_r,
        |       cast((doc_id * 3 + 29 * i) % 256 AS double) AS mean_g,
        |       cast((doc_id * 5 + 41 * i) % 256 AS double) AS mean_b
        |FROM documents CROSS JOIN (VALUES (0), (2), (4)) AS t(i)
        |WHERE i < 2 + doc_id % 4""".stripMargin),

    // REAL per-frame video resize, driver-checked: multi-frame GIF with
    // doc_id-derived dims (up to 13x7), every 2nd frame bilinear-scaled so
    // max(w,h) == 4 (never upscaled) and re-encoded as lossless PNG, then
    // decoded AGAIN through the image-feature path. The oracle reproduces
    // the integer geometry (trunc(dim * 4/maxdim), floor at 1) and the
    // colors analytically (bilinear of a solid frame is the solid color;
    // PNG round-trips it exactly).
    Query("media_video_resize", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (2 + id % 4).toInt
          val colors = (0 until n).map(i => (
            ((id + 17 * i) % 256).toInt,
            ((id * 3 + 29 * i) % 256).toInt,
            ((id * 5 + 41 * i) % 256).toInt))
          (id, graft.multimodal.Media.syntheticGif(
            (1 + id % 13).toInt, (1 + id % 7).toInt, colors))
        }).toDF("media_id", "payload")
      val frames = graft.multimodal.Media.resizeVideoFrames(
        media, maxDim = 4, everyNth = 2)
      graft.multimodal.Media.extractImageFeatures(frames)
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          element_at(col("features"), 1).cast("long").as("w"),
          element_at(col("features"), 2).cast("long").as("h"),
          element_at(col("features"), 4).cast("double").as("mean_r"),
          element_at(col("features"), 5).cast("double").as("mean_g"),
          element_at(col("features"), 6).cast("double").as("mean_b"))
    },
      // same sampled frames as media_video_frames (every 2nd), with the
      // media_image_resize geometry applied per frame: scale = 4.0/max(w,h),
      // never upscale, trunc toward zero (Java (int) cast), floor at 1;
      // solid colors survive bilinear + lossless PNG exactly
      """WITH g AS (
        |  SELECT doc_id,
        |         cast(1 + doc_id % 13 AS bigint) AS w0,
        |         cast(1 + doc_id % 7 AS bigint) AS h0
        |  FROM documents
        |)
        |SELECT doc_id AS media_id,
        |       cast(i AS bigint) AS frame_idx,
        |       cast(2 + doc_id % 4 AS bigint) AS n_frames,
        |       CASE WHEN greatest(w0, h0) <= 4 THEN w0
        |            ELSE greatest(1, cast(trunc(w0 * (4.0 / greatest(w0, h0)))
        |                             AS bigint)) END AS w,
        |       CASE WHEN greatest(w0, h0) <= 4 THEN h0
        |            ELSE greatest(1, cast(trunc(h0 * (4.0 / greatest(w0, h0)))
        |                             AS bigint)) END AS h,
        |       cast((doc_id + 17 * i) % 256 AS double) AS mean_r,
        |       cast((doc_id * 3 + 29 * i) % 256 AS double) AS mean_g,
        |       cast((doc_id * 5 + 41 * i) % 256 AS double) AS mean_b
        |FROM g CROSS JOIN (VALUES (0), (2), (4)) AS t(i)
        |WHERE i < 2 + doc_id % 4""".stripMargin),

    // AUDIO DEDUP — the audio sibling of media_image_dedup: one REAL
    // WAV decode per document (typed mapPartitions, no shuffle until
    // the fingerprint aggregate), content fingerprint from the decoded
    // features (frame count + peak amplitude — constant-amplitude PCM
    // makes peak = amp/32768 exactly dyadic, so the quantized
    // fingerprint is bit-stable), then one hash aggregate groups
    // duplicates. Payload params collide on doc_id % 40 by
    // construction, so the oracle reproduces groups analytically.
    Query("media_audio_dedup", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 40
          (id, graft.multimodal.Media.syntheticWav(
            (16 + k % 8).toInt, ((k + 1) * 128).toShort))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractWavFeatures(media)
        .select(col("media_id"),
          md5(concat_ws(",",
            element_at(col("features"), 3).cast("long"),
            round(element_at(col("features"), 6) * 256).cast("long"))
            .cast("binary")).as("content_hash"))
        .groupBy(col("content_hash"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
    },
      """WITH k AS (SELECT doc_id, doc_id % 40 AS k FROM documents)
        |SELECT md5(concat_ws(',', 16 + k % 8, k + 1)) AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM k GROUP BY 1""".stripMargin),
  )
}
