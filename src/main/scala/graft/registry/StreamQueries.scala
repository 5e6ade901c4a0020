package graft
package registry

import SparkEntry.{tbl, events}
import Shared.{cleanToksSql, embUnnestCte, kmvEstimate, kmvEstimateSql,
  kmvTheta, pcaCovCtes, qsketchFromScratchSql, qsketchReadout, scd2Dim,
  shinglesSql, sigsSql, stopListSql, thetaHash, tokensCte}
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming operators on the real Structured Streaming engine (via
  * [[graft.streaming.StreamGate]]).
  *
  * Each entry replays the events/documents tables through a MemoryStream
  * micro-batch, runs the EventStream operator on the streaming engine
  * (state store, watermarks, incremental agg), and returns the sink —
  * checked against the equivalent batch oracle like every other query. */
private[graft] object StreamQueries {

  /** Per-micro-batch partial of the count handoff stores: events and
    * summed cents per event_type. */
  private def centsPartial(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))

  val queries: Seq[Query] = Seq(

    // Tumbling 1h event-time windows + watermark; complete-mode final state
    // must equal the batch hourly aggregation. Staged parquet -> the
    // engine's FILE source: executors write and read the stream, the
    // driver only names the directory — no .collect() anywhere.
    Query("stream_windowed_counts", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"), col("event_type")),
        "gate_win_counts", "complete")(df =>
        graft.streaming.EventStream.windowedCounts(
          df, "ts", "event_type", window = "1 hour"))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt")),
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Same windowed aggregation through a genuinely DIFFERENT source path:
    // a CSV text source with an explicit user schema (typed parsing +
    // schema enforcement, which the self-describing parquet source skips)
    // replayed one-file-per-trigger over 3 staged files — so the stateful
    // aggregation is updated INCREMENTALLY across 3 micro-batches instead
    // of draining into batch 0. File-to-batch order is arbitrary, so the
    // lateness covers the whole event-time span (no watermark late-drops;
    // in complete mode the state is retained regardless).
    Query("stream_windowed_counts_file", (s, dir) =>
      graft.streaming.StreamGate.stageCsvAndReplay(events(s, dir)
        .select(unix_micros(col("ts")).as("ts_us"), col("event_type")),
        "gate_win_counts_file")(
        graft.streaming.StreamGate.replayCsvMultiBatch(s, _, _,
          "gate_win_counts_file", "complete")(df =>
          graft.streaming.EventStream.windowedCounts(
            df.select(timestamp_micros(col("ts_us")).as("ts"),
              col("event_type")),
            "ts", "event_type", window = "1 hour", lateness = "3650 days")))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt")),
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin),

    // STREAMING heavy hitters with bounded state: users above N/150 of
    // the whole event stream. The stream side maintains hash-sharded
    // Misra-Gries summaries in the state store (4 shards x 64 counters —
    // O(1) state regardless of key cardinality, where a plain streaming
    // groupBy keeps one row per key forever) via flatMapGroupsWithState,
    // replayed across MULTIPLE micro-batches so state genuinely carries
    // over. Each shard's final candidate set is a guaranteed superset of
    // its keys above seen_shard/(cap+1) — checked LOUDLY against the
    // report threshold before the batch pass counts the <= shards*cap
    // candidates exactly. Result == the naive HAVING answer (the oracle).
    Query("stream_heavy_hitters", (s, dir) => {
      val k = 150L; val shards = 4; val cap = 64
      val ev = events(s, dir).select(col("user_id").cast("long").as("k"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev, "gate_hh")(
        graft.streaming.StreamGate.replayCsvMultiBatch(s, _, _,
          "gate_hh", "update")(df =>
          graft.streaming.EventStream.heavyHitterCandidates(
            df, "k", shards, cap)))
      // final snapshot per shard = the emission with the largest version
      val fin = sink.groupBy("shard")
        .agg(max(struct(col("seen"), col("keys"))).as("m"))
        .select(col("m.seen").as("seen"), col("m.keys").as("keys"))
        .collect() // bounded: one row per shard
      val n = fin.map(_.getLong(0)).sum
      // superset guarantee must cover the report threshold per shard
      fin.foreach(r => require(r.getLong(0) * k < n * (cap + 1),
        s"shard saw ${r.getLong(0)} of $n rows: MG cap $cap cannot " +
          s"guarantee the N/$k threshold — raise cap or shards"))
      val candidates = fin.flatMap(_.getSeq[Long](1)).distinct.sorted
      ev.where(col("k").isin(candidates.toIndexedSeq: _*))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * k > n)
        .select(col("k").as("user_id"), col("cnt"))
    },
      // the naive answer the sharded streaming-MG + exact batch pass must
      // equal: every user above N/150 of the whole stream
      """WITH tot AS (SELECT count(*) AS n FROM events)
        |SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS cnt
        |FROM events, tot GROUP BY user_id, n
        |HAVING count(*) * 150 > n""".stripMargin),

    // STREAMING OHLC BARS — rel_ohlc_bars as an incremental windowed
    // aggregation: open/close fold as struct arg-extrema in the state
    // store (a few scalars per open bar regardless of throughput);
    // complete-mode replay, result must equal the batch rollup.
    Query("stream_ohlc", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          round(col("value") * 1000).cast("long").as("v"),
          col("event_type")).where(col("v").isNotNull),
        "gate_ohlc", "complete")(df =>
        graft.streaming.EventStream.windowedOhlc(df))
        .select(unix_micros(col("win_start")).as("bar"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"), col("n")),
      // the streamed bars must equal the batch rollup (same SQL, win_start
      // aliased to bar)
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t, event_id,
        |         cast(round(value * 1000) AS BIGINT) AS v,
        |         (epoch_us(ts) // 300000000) * 300000000 AS bar
        |  FROM events
        |  WHERE round(value * 1000) IS NOT NULL
        |), r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, bar
        |                            ORDER BY t, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY event_type, bar
        |                            ORDER BY t DESC, event_id DESC) AS rn_d
        |  FROM e
        |)
        |SELECT bar, event_type,
        |       max(CASE WHEN rn_a = 1 THEN v END) AS open,
        |       max(v) AS high, min(v) AS low,
        |       max(CASE WHEN rn_d = 1 THEN v END) AS close,
        |       count(*)::BIGINT AS n
        |FROM r GROUP BY 1, 2""".stripMargin),

    // STREAMING EXACT DISTINCT — per-(event_type, 2^15-user-bucket)
    // bitmaps in mapGroupsWithState: 4 KB of state forever per occupied
    // bucket regardless of row count (streaming dropDuplicates keeps a
    // state row PER DISTINCT USER; HLL surrenders exactness). Bitmap OR
    // is commutative AND idempotent, so the unordered multi-batch replay
    // — including re-delivered rows — provably equals the batch answer.
    // The unbounded-stream twin of rel_bitmap_distinct.
    Query("stream_bitmap_distinct", (s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(col("event_type"), col("user_id"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev,
        "gate_bmdist")(graft.streaming.StreamGate.replayCsvMultiBatch(s, _, _,
          "gate_bmdist", "update")(df =>
          graft.streaming.EventStream.bitmapDistinct(
            df.toDF("_1", "_2").as[(String, Long)]).toDF()))
      sink.groupBy(col("key"), col("bucket"))
        .agg(max(struct(col("ver"), col("distinct"))).as("m"))
        .groupBy(col("key").as("event_type"))
        .agg(sum(col("m.distinct")).as("n_users"))
    },
      // the streamed bitmap rollup must equal plain batch exact distinct
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin),

    // STREAMING COVARIANCE "train" — the unbounded-stream twin of
    // emb_covariance: per-shard flat moment buffers in
    // mapGroupsWithState (~17 KB × shards of state FOREVER), commutative
    // sums so the unordered multi-batch CSV replay equals the batch
    // moments; the final read keeps each shard's max-version snapshot
    // and merges the model-sized buffers into the covariance (the
    // partial → final shape). Oracle = the batch covariance SQL.
    Query("stream_covariance", (s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "embeddings").select(col("vec_id"),
        // float -> shortest-round-trip string -> float is exact, so the
        // CSV gate cannot perturb the vectors
        concat_ws(";", col("embedding").cast("array<string>")).as("emb"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev,
        "gate_momsum")(graft.streaming.StreamGate.replayCsvMultiBatch(s, _, _,
          "gate_momsum", "update")(df =>
          graft.streaming.EventStream.momentSumsStream(
            df.select(col("vec_id"),
              split(col("emb"), ";").cast("array<float>").as("v"))
              .as[(Long, Seq[Float])]).toDF()))
      val bufs = sink.groupBy(col("shard"))
        .agg(max(struct(col("ver"), col("buf"))).as("m"))
        .select(col("m.buf")).as[Seq[Double]].collect() // shards, model-sized
      val flat = bufs.filter(_.nonEmpty).map(_.toArray)
        .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      val (n, sm, o) = graft.ops.Pca.parseMoments(flat)
      graft.ops.Pca.covarianceRows(s, graft.ops.Pca.covariance(n, sm, o))
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"))
    },
      // train-serve consistency: the streaming shard-merged moments must
      // reproduce the batch covariance — same SQL as emb_covariance
      s"""WITH $embUnnestCte,
         |$pcaCovCtes
         |SELECT i, j, round(c, 6) + 0.0 AS cov FROM cov
         |WHERE i <= j""".stripMargin),

    // STREAMING FIRST-TOUCH FUNNEL — per-user earliest signup/view/
    // purchase instants as mapGroupsWithState state: a few longs per user
    // FOREVER. Every state field is a min or a count — COMMUTATIVE — so
    // the unordered multi-batch replay provably equals the batch answer
    // (the oracle). The funnel semantics are first-touch: step k+1
    // counts iff its FIRST instant is strictly after step k's FIRST
    // instant — the bounded-state funnel (a strict any-interleaving
    // funnel would need every step-k+1 timestamp retained; see
    // EventStream.firstTouchFunnel). Final snapshot = max version.
    Query("stream_funnel_touch", (s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .where(col("event_type").isin("signup", "view", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t_us"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev,
        "gate_funnel")(graft.streaming.StreamGate.replayCsvMultiBatch(s, _, _,
          "gate_funnel", "update")(df =>
          graft.streaming.EventStream.firstTouchFunnel(
            df.toDF("_1", "_2", "_3").as[(Long, String, Long)]).toDF()))
      val none = Long.MaxValue
      val fin = sink.groupBy(col("userId"))
        .agg(max(struct(col("ver"), col("s"), col("v"), col("p"),
          col("n"))).as("m"))
      val sC = when(col("m.s") =!= none, col("m.s"))
      val vC = when(col("m.v") =!= none, col("m.v"))
      val pC = when(col("m.p") =!= none, col("m.p"))
      fin.select(col("userId").as("user_id"),
        sC.as("first_signup_us"), vC.as("first_view_us"),
        pC.as("first_purchase_us"),
        (when(sC.isNotNull, 1).otherwise(0)
          + when(sC.isNotNull && vC.isNotNull && vC > sC, 1).otherwise(0)
          + when(sC.isNotNull && vC.isNotNull && vC > sC &&
              pC.isNotNull && pC > vC, 1).otherwise(0))
          .cast("long").as("steps_completed"),
        col("m.n").as("n_events"))
    },
      // the commutative-state contract: the unordered multi-batch replay
      // must equal this one-shot batch first-touch computation exactly
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
        |  WHERE event_type IN ('signup', 'view', 'purchase')
        |), a AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN t END) AS s,
        |         min(CASE WHEN event_type = 'view' THEN t END) AS v,
        |         min(CASE WHEN event_type = 'purchase' THEN t END) AS p,
        |         count(*)::BIGINT AS n_events
        |  FROM e GROUP BY 1
        |)
        |SELECT user_id, s AS first_signup_us, v AS first_view_us,
        |       p AS first_purchase_us,
        |       (CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND v IS NOT NULL AND v > s
        |               THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND v IS NOT NULL AND v > s
        |               AND p IS NOT NULL AND p > v THEN 1 ELSE 0 END
        |       )::BIGINT AS steps_completed,
        |       n_events
        |FROM a""".stripMargin),

    // STREAMING POINT-IN-TIME ENRICHMENT — the purchase stream joins the
    // STATIC SCD2 dimension version effective at each event's instant
    // (stream-static left join, re-planned per micro-batch): the serving
    // twin of rel_scd2_pit, and the train-serve-consistency contract is
    // literally the oracle — the streamed result must equal the batch
    // PIT join row-for-row. Dimension broadcast per batch; no state.
    Query("stream_scd2_enrich", (s, dir) => {
      val dim = scd2Dim(s, dir)
        .select(col("user_id").as("d_user"), col("k"),
          col("vf"), col("vt"), col("version"))
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("t")),
        "gate_scd2", "append")(df =>
        df.join(broadcast(dim), df("user_id") === col("d_user") &&
            df("t") >= col("vf") &&
            (col("vt").isNull || df("t") < col("vt")), "left_outer")
          .select(df("event_id"), df("user_id"),
            col("k").as("k_at_purchase"), col("version")))
    },
      // train-serve consistency: the streamed PIT enrichment must equal the
      // batch PIT join (same SQL as rel_scd2_pit)
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS vf, event_id,
        |         cast(json_extract_string(props, '$.k') AS bigint) AS k
        |  FROM events WHERE event_type = 'signup'
        |), dim AS (
        |  SELECT user_id AS d_user, k, vf,
        |         lead(vf) OVER (PARTITION BY user_id
        |                        ORDER BY vf, event_id) AS vt,
        |         cast(row_number() OVER (PARTITION BY user_id
        |                        ORDER BY vf, event_id) AS bigint) AS version
        |  FROM c
        |)
        |SELECT e.event_id, e.user_id, dim.k AS k_at_purchase, dim.version
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t
        |      FROM events WHERE event_type = 'purchase') e
        |LEFT JOIN dim ON e.user_id = dim.d_user
        |  AND e.t >= dim.vf AND (dim.vt IS NULL OR e.t < dim.vt)""".stripMargin),

    // Streaming top-K: complete-mode aggregation + ORDER BY + LIMIT —
    // the sorted-sink shape Structured Streaming only permits in complete
    // mode (every trigger re-emits the whole ranked table; at scale the
    // sink holds K rows, the state one row per key). Tie-broken on the
    // key so the cut is deterministic.
    Query("stream_topk_types", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("event_type")),
        "gate_topk_types", "complete")(df =>
        df.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("event_type").asc)
          .limit(3)),
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin),

    // Sliding 1h windows every 15 min: each event lands in 4 windows
    Query("stream_sliding_counts", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"), col("event_type")),
        "gate_slide_counts", "complete")(df =>
        graft.streaming.EventStream.slidingCounts(
          df, "ts", "event_type", window = "1 hour", slide = "15 minutes"))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt")),
      // a 1h-window/15min-slide assigns each event to the 4 windows starting
      // at time_bucket(15 min) - k*15 min, k = 0..3 (ts is always >= the
      // window start and < start + 1h by construction)
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
        |         - to_minutes(15 * k)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events, unnest([0, 1, 2, 3]) AS t(k)
        |GROUP BY 1, 2""".stripMargin),

    // Incremental WordCount (streaming aggregation over exploded tokens)
    Query("stream_wordcount", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        tbl(s, dir, "documents").select(col("text").as("value")),
        "gate_wc", "complete")(df =>
        graft.streaming.EventStream.streamingWordCount(df)),
      s"""WITH ${tokensCte("text")}
         |SELECT token AS word, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 AND token NOT IN $stopListSql
         |GROUP BY token""".stripMargin),

    // Streaming exact dedup (dropDuplicatesWithinWatermark): first arrival
    // per key emitted once — key set must equal the batch DISTINCT
    Query("stream_dedup_keys", (s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_type"), col("ts")),
        "gate_dedup", "append")(df =>
        graft.streaming.EventStream.dedupStream(
          df, Seq("user_id", "event_type")))
        .select(col("user_id"), col("event_type")),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // Streaming FUZZY dedup against the HISTORICAL corpus — the streaming
    // face of the incremental-ingest near-dup gate: the replayed stream is
    // the "new crawl" half of documents (generations src10+); each
    // micro-batch MinHash-fingerprints its rows IN-STREAM (the native
    // MinHashSigExpr is a per-row projection, fully streaming-safe) and
    // chains four left_anti probes against the static LSH band index of
    // the historical half (src0-9). A doc survives only if NO band
    // collides — the same novelty contract as batch LSH candidate
    // generation, so paraphrased re-crawls are caught, not just
    // byte-identical ones (this corpus has zero exact cross-generation
    // dups and 16 near-dup pairs: an exact gate would be a no-op). The
    // probes hold ZERO streaming state and the band index rides a
    // broadcast — swap to shuffled probes or a Bloom prefilter
    // (rel_bloom_join_prune's pattern) when the index outgrows broadcast.
    Query("stream_dedup_against_corpus", (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val gen = substring(col("source"), 4, 10).cast("int")
      def withSigs(df: DataFrame): DataFrame = {
        val sig = df.withColumn("sig",
          graft.functions.GraftFunctions.minhashSig(col("text"), 8))
        (0 until 8).foldLeft(sig)((d, i) =>
          d.withColumn(s"sig$i", element_at(col("sig"), i + 1)))
      }
      val histBands = withSigs(docs.where(gen < 10))
        .select(explode(array(Dedup.lshBands(8, 2): _*)).as("band"))
        .distinct()
      val incoming = docs.where(gen >= 10)
        .select(col("doc_id"), col("source"), col("text"))
      graft.streaming.StreamGate.stageAndReplay(s, incoming,
        "gate_corpus_dedup", "append") { df =>
        var cur = withSigs(df)
        Dedup.lshBands(8, 2).zipWithIndex.foreach { case (b, i) =>
          cur = cur.withColumn(s"band$i", b)
        }
        graft.streaming.EventStream.dropCollidingWithIndex(cur, histBands,
          (0 until 4).map(i => s"band$i"))
          .select(col("doc_id"), col("source"))
      }
    },
      // batch re-derivation of the stream-static novelty gate: same sigs,
      // same 4 band values; novel = no band in the historical band set
      {
        val bandSel = (0 until 4).map(b =>
          s"SELECT doc_id, source, md5(sig${2 * b}::VARCHAR || ',' || " +
            s"sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, source, ${cleanToksSql("text")} AS l FROM documents),
           |shl AS (SELECT doc_id, source, $shinglesSql AS sh FROM t),
           |sigs AS (SELECT doc_id, source,
           |       $sigsSql
           |FROM shl),
           |bands AS (
           |  $bandSel
           |),
           |hist AS (SELECT DISTINCT band FROM bands
           |         WHERE cast(substr(source, 4) AS int) < 10)
           |SELECT d.doc_id, d.source
           |FROM documents d
           |WHERE cast(substr(d.source, 4) AS int) >= 10
           |  AND NOT EXISTS (SELECT 1 FROM bands b JOIN hist h USING (band)
           |                  WHERE b.doc_id = d.doc_id)""".stripMargin
      }),

    // Custom state via mapGroupsWithState: per-user running event counts
    // (one micro-batch => one open-session update per user)
    Query("stream_session_counts", (s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_id")),
        "gate_sessions", "update")(
        df => graft.streaming.EventStream
          .runningSessions(df.toDF("_1", "_2").as[(Long, Long)],
            timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .toDF())
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"))
    },
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),

    // Custom 0..n-rows-per-group state via flatMapGroupsWithState: emit
    // every session CLOSED by an event-time gap (> 30 min), keep the open
    // tail in state — the oracle sessionizes in batch SQL and drops each
    // user's last (still-open) session
    Query("stream_closed_sessions", (s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), unix_micros(col("ts")).as("t_us")),
        "gate_closed_sessions", "append")(df =>
        graft.streaming.EventStream.closedSessions(
          df.toDF("_1", "_2").as[(Long, Long)]).toDF())
        .select(col("userId").as("user_id"), col("startUs").as("start_us"),
          col("endUs").as("end_us"), col("nEvents").as("n_events"))
    },
      // batch sessionization (gap > 30 min), minus each user's LAST session
      // — that one is still open in the stream and must not have emitted
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |x AS (SELECT user_id, ts_us,
        |        CASE WHEN lag(ts_us) OVER w IS NULL
        |               OR ts_us - lag(ts_us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x),
        |g AS (SELECT user_id, sid, min(ts_us) AS start_us,
        |        max(ts_us) AS end_us, count(*) AS n_events
        |      FROM s GROUP BY 1, 2),
        |m AS (SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid
        |      FROM g)
        |SELECT user_id, start_us, end_us, n_events
        |FROM m WHERE sid < max_sid""".stripMargin),

    // Stream-stream interval join: purchases attributed to same-user views
    // in the prior 30 min, through TWO distributed file sources — both
    // sides staged as parquet and read back by the engine's file source
    // on the executors, no driver collect anywhere. Inner-join rows are
    // emitted in the micro-batch where they match, so the whole replay is
    // ONE micro-batch (see StreamGate.replayJoinFileSource).
    Query("stream_join_attrib", (s, dir) => {
      // ONE distributed scan + partitioned write stages both sides; each
      // file source reads its event_type= subdirectory
      val d = java.nio.file.Paths.get(
        graft.streaming.StreamGate.scratchDir("stage", "attrib"))
      events(s, dir)
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(d.toString)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      // staged data is fully drained into the memory sink by the time the
      // replay returns — remove the directory now, not at JVM exit
      try graft.streaming.StreamGate.replayJoinFileSource(s,
        s"$d/event_type=view", s"$d/event_type=purchase", schema,
        "gate_attrib")((v, p) =>
        graft.streaming.EventStream.attributeToViews(v, p))
        .select(col("user_id"), unix_micros(col("p_ts")).as("p_ts_us"),
          unix_micros(col("v_ts")).as("v_ts_us"))
      finally graft.streaming.StreamGate.deleteRecursively(d.toString)
    },
      // micro-precision comparison on both sides: Spark compares timestamps
      // at micros; comparing raw TIMESTAMP_NS here could flip pairs that sit
      // within 1 us of the interval boundary
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, us AS v_ts_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id, us AS p_ts_us FROM e WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, p_ts_us, v_ts_us
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v_ts_us <= p_ts_us
        |  AND v_ts_us >= p_ts_us - 1800000000""".stripMargin),

    // Stream-stream LEFT OUTER interval join: every view with its
    // following-30-min purchases, null-padded views emitted only once the
    // watermark proves no match can arrive. Far-future sentinel rows
    // (user -1, year 2100 — data-independent) ride the data batch so the
    // post-batch watermark flushes the unmatched state; they are filtered
    // out of the output (see StreamGate.replayJoinFileSource).
    Query("stream_join_left_outer", (s, dir) => {
      val sentinels = s.createDataFrame(Seq(
        (-1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "view"),
        (-1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "purchase")))
        .toDF("user_id", "ts", "event_type")
      val d = java.nio.file.Paths.get(
        graft.streaming.StreamGate.scratchDir("stage", "ljoin"))
      events(s, dir)
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_type"))
        .union(sentinels)
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(d.toString)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      try graft.streaming.StreamGate.replayJoinFileSource(s,
        s"$d/event_type=view", s"$d/event_type=purchase", schema,
        "gate_ljoin", watermarkFlush = true)((v, p) =>
        graft.streaming.EventStream.viewsWithPurchases(v, p))
        .where(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("v_ts")).as("v_ts_us"),
          unix_micros(col("p_ts")).as("p_ts_us"))
      finally graft.streaming.StreamGate.deleteRecursively(d.toString)
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), v AS (
        |  SELECT user_id, us AS v_ts_us FROM e WHERE event_type = 'view'
        |), p AS (
        |  SELECT user_id AS p_user, us AS p_ts_us FROM e
        |  WHERE event_type = 'purchase'
        |)
        |SELECT v.user_id, v_ts_us, p_ts_us
        |FROM v LEFT JOIN p ON v.user_id = p.p_user
        |  AND p_ts_us >= v_ts_us
        |  AND p_ts_us <= v_ts_us + 1800000000""".stripMargin),

    // Stream-static enrichment: the event stream joined per-micro-batch to
    // a broadcast static dimension (the canonical lookup/enrich shape —
    // stateless, so no watermark or state store is involved)
    Query("stream_static_enrich", (s, dir) => {
      val dim = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_type")),
        "gate_enrich", "append")(
        df => df
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("user_id"), col("event_type"), col("c_mktsegment")))
    },
      """SELECT user_id, event_type, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin),

    // STREAMING QUANTILE SKETCH with bounded state: per-event-type
    // power-of-two value histograms maintained incrementally (complete
    // mode), p50/p95 read off the bucket edges afterwards. The bucket
    // is the BIT LENGTH of the exact cent amount (`length(bin(cents))`
    // — pure integer arithmetic, bit-identical on any engine; never a
    // float log that could flip at a boundary), so state is
    // event_types × ≤64 buckets FOREVER regardless of throughput —
    // where a streaming exact quantile would keep every distinct
    // value. Counts are associative, so the unordered multi-batch
    // replay provably equals the batch histogram; the estimator
    // (smallest bucket whose cumulative count reaches ceil(p·n), in
    // exact integer arithmetic) then guarantees est/exact ∈ [1, 2) —
    // the upper bucket edge against a true value inside the bucket —
    // which the spec checks against the exact quantile.
    Query("stream_quantile_sketch", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        length(bin(round(col("value") * 100).cast("long"))).as("bucket"))
      val hist = graft.streaming.StreamGate.stageAndReplay(s, ev,
        "gate_qsketch", "complete")(df =>
        df.groupBy("event_type", "bucket").count())
      // batch-side readout over the types × buckets sink: cumulative
      // counts per type (partitioned window — tiny frame, distributed
      // by type), then the smallest bucket reaching each exact rank
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      // the per-type total rides the SAME partitioning as the running
      // count (a full-partition frame) — no self-join back onto the
      // memory sink, one shuffle total
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      val cum = hist.select(col("event_type"), col("bucket"),
        col("count").as("cnt"),
        sum(col("count")).over(w).as("cum"),
        sum(col("count")).over(wAll).as("n"))
      cum
        .groupBy(col("event_type"), col("n"))
        .agg(
          // exact integer ranks: ceil(n/2) and ceil(19n/20)
          min(when(col("cum") >= expr("(n + 1) div 2"), col("bucket")))
            .as("b50"),
          min(when(col("cum") >= expr("(19 * n + 19) div 20"),
            col("bucket"))).as("b95"))
        .select(col("event_type"), col("n"),
          (pow(lit(2.0), col("b50")) / 100.0).as("p50_est"),
          (pow(lit(2.0), col("b95")) / 100.0).as("p95_est"))
    },
      """WITH h AS (
        |  SELECT event_type,
        |         length(bin(CAST(round(value * 100, 0) AS BIGINT)))
        |           AS bucket,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cnt) AS n FROM h GROUP BY 1
        |), c AS (
        |  SELECT h.event_type, h.bucket, t.n,
        |         sum(cnt) OVER (PARTITION BY h.event_type
        |                        ORDER BY h.bucket) AS cum
        |  FROM h JOIN t ON h.event_type = t.event_type
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       pow(2, min(CASE WHEN cum >= (n + 1) // 2
        |                       THEN bucket END)) / 100.0 AS p50_est,
        |       pow(2, min(CASE WHEN cum >= (19 * n + 19) // 20
        |                       THEN bucket END)) / 100.0 AS p95_est
        |FROM c GROUP BY 1, 2""".stripMargin),

    // STREAMING HLL DISTINCT with bounded state: per-event-type
    // 1024-register HyperLogLog maintained incrementally (complete
    // mode) — register = low 10 bits of xxhash64(user_id), rho = rank
    // of the first set bit in the remaining 54 (pure integer
    // `length(bin(...))`, never a float log). max() is associative and
    // idempotent, so the unordered multi-batch replay provably equals
    // the batch registers, and state is types × ≤1024 rows FOREVER —
    // where exact streaming distinct keeps every user id. The batch
    // readout applies the standard HLL estimator (α·m²/Σ2^−M, linear
    // counting below 2.5m), and the driver-checked CONTRACT (same
    // pattern as rel_hll_union_bounded) pins it within 10% of exact —
    // m=1024 gives rsd ≈ 3.25%, so 10% is a 3σ bound.
    Query("stream_hll_distinct", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("user_id"),
          xxhash64(col("user_id")).as("h"))
        .select(col("event_type"),
          col("h").bitwiseAND(1023).as("reg"),
          shiftrightunsigned(col("h"), 10).as("rest"))
        .select(col("event_type"), col("reg"),
          when(col("rest") === 0, 55)
            .otherwise(lit(55) - length(bin(col("rest")))).as("rho"))
      val regs = graft.streaming.StreamGate.stageAndReplay(s, ev,
        "gate_hll", "complete")(df =>
        df.groupBy("event_type", "reg").agg(max(col("rho")).as("m")))
      val alpha = 0.7213 / (1.0 + 1.079 / 1024.0)
      val est = regs.groupBy("event_type").agg(
          (sum(pow(lit(2.0), -col("m"))) + (lit(1024) - count(lit(1))))
            .as("sum_inv"),
          (lit(1024) - count(lit(1))).as("v"))
        .select(col("event_type"),
          when(col("v") > 0 &&
              lit(alpha * 1024.0 * 1024.0) / col("sum_inv") <= 2560.0,
            lit(1024.0) * log(lit(1024.0) / col("v")))
            .otherwise(lit(alpha * 1024.0 * 1024.0) / col("sum_inv"))
            .as("approx"))
      events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact"))
        .join(est, "event_type")
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct"))
    },
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin),

    // STREAMING PSI DRIFT — rel_psi_drift's gate as a live stream: the
    // reference histogram is a BATCH aggregate of the corpus first
    // half; the current histogram is maintained INCREMENTALLY over the
    // streamed second half (complete mode, types × ≤64 bit-length
    // buckets of bounded state — counts are associative, so the
    // unordered replay provably equals the batch histogram and the
    // streaming PSI equals the batch PSI, which IS the oracle). The
    // readout full-outer-joins the two bounded histograms and applies
    // the same smoothed, round-then-exact-sum fold.
    Query("stream_psi_drift", (s, dir) => {
      val ts = unix_micros(col("ts"))
      val mid = events(s, dir)
        .agg(min(ts).as("mn"), max(ts).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val tagged = events(s, dir).crossJoin(broadcast(mid))
        .select(col("event_type"),
          length(bin(round(col("value") * 100).cast("long")))
            .as("bucket"),
          (ts < col("mid")).as("ref"))
      val refH = tagged.where(col("ref"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("cr"))
      val curH = graft.streaming.StreamGate.stageAndReplay(s,
        tagged.where(!col("ref")).select("event_type", "bucket"),
        "gate_psi", "complete")(df =>
        df.groupBy("event_type", "bucket").count())
        .select(col("event_type"), col("bucket"),
          col("count").as("cc"))
      val b = refH.join(curH, Seq("event_type", "bucket"), "full_outer")
        .select(col("event_type"), col("bucket"),
          coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cc"), lit(0L)).as("cc"))
      val tot = b.groupBy("event_type")
        .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"),
          count(lit(1)).as("nb"))
      val p = (col("cr") + 1.0).cast("double") /
        (col("nr") + col("nb")).cast("double")
      val q = (col("cc") + 1.0).cast("double") /
        (col("nc") + col("nb")).cast("double")
      b.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("nb"),
          round((p - q) * log(p / q), 6).cast("decimal(38,6)")
            .as("term"))
        .groupBy(col("event_type"), col("nb").as("n_buckets"))
        .agg(round(sum(col("term")).cast("double"), 6).as("psi"))
    },
      """WITH m AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events
        |), b AS (
        |  SELECT event_type,
        |         length(bin(CAST(round(value * 100, 0) AS BIGINT)))
        |           AS bucket,
        |         sum(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |           AS cr,
        |         sum(CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END)
        |           AS cc
        |  FROM events CROSS JOIN m GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, sum(cr) AS nr, sum(cc) AS nc,
        |         count(*) AS nb
        |  FROM b GROUP BY 1
        |), terms AS (
        |  SELECT b.event_type, t.nb,
        |         CAST(round(
        |           (CAST(cr + 1.0 AS DOUBLE) / CAST(nr + nb AS DOUBLE) -
        |            CAST(cc + 1.0 AS DOUBLE) / CAST(nc + nb AS DOUBLE)) *
        |           ln((CAST(cr + 1.0 AS DOUBLE) / CAST(nr + nb AS DOUBLE))
        |            / (CAST(cc + 1.0 AS DOUBLE) / CAST(nc + nb AS DOUBLE))),
        |           6) AS DECIMAL(38,6)) AS term
        |  FROM b JOIN t ON b.event_type = t.event_type
        |)
        |SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
        |       round(CAST(sum(term) AS DOUBLE), 6) AS psi
        |FROM terms GROUP BY 1, 2""".stripMargin),

    // STREAMING CALIBRATION — rel_calibration_bins maintained LIVE:
    // the 10-bin (count, score-sum, positive-count) state updates
    // incrementally over the streamed events (complete mode, 10 rows
    // of bounded state); every counter is associative, so the
    // unordered replay provably equals the batch bins — which IS the
    // oracle. The model-quality dashboard shape: metrics stay current
    // without ever rescanning history.
    Query("stream_calibration_bins", (s, dir) => {
      val src = events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .select(expr("cents div 10").as("bin"), col("cents"), col("pos"))
      graft.streaming.StreamGate.stageAndReplay(s, src,
        "gate_calib", "complete")(df =>
        df.groupBy("bin").agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sc"), sum(col("pos")).as("sp")))
        .select(col("bin"), col("n"),
          round(col("sc").cast("double") / (lit(100.0) * col("n")), 6)
            .as("mean_score"),
          round(col("sp").cast("double") / col("n").cast("double"), 6)
            .as("pos_rate"))
    },
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |)
        |SELECT cents // 10 AS bin, count(*) AS n,
        |       round(sum(cents)::DOUBLE / (100.0 * count(*)), 6)
        |         AS mean_score,
        |       round(sum(pos)::DOUBLE / count(*)::DOUBLE, 6) AS pos_rate
        |FROM s GROUP BY 1""".stripMargin),

    // STREAMING AS-OF ENRICHMENT — the temporal-join twin of
    // rel_asof_last_view through the real micro-batch engine: each
    // purchase carries the most recent strictly-prior view instant by
    // the same user. State is ONE long per user (the latest view seen)
    // — no buffered join side, no watermark-horizon retention: the
    // canonical as-of shape where the lookup side only needs its latest
    // value, bounded at key cardinality on an unbounded stream. Same
    // oracle as the batch window, so batch/stream parity is
    // hash-checked, not argued.
    Query("stream_asof_enrich", (s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).where(col("event_type").isin("view", "purchase"))
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t_us"),
            (col("event_type") === "view").as("is_view")),
        "gate_asof", "append")(df =>
        graft.streaming.EventStream.asOfLastView(
          df.toDF("_1", "_2", "_3", "_4")
            .as[(Long, Long, Long, Boolean)]).toDF())
        .select(col("eventId").as("event_id"),
          col("userId").as("user_id"),
          col("lastViewUs").as("last_view_us"))
    },
      // identical to rel_asof_last_view's oracle: the streaming operator
      // must reproduce the batch as-of window bit-for-bit
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, event_type,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS last_view_us
        |  FROM e
        |)
        |SELECT event_id, user_id, last_view_us
        |FROM m WHERE event_type = 'purchase'""".stripMargin),

    // GROUPED / MULTI-LOOKUP STREAMING AS-OF — asOfLastByType: each
    // purchase carries the last strictly-prior instant of EVERY lookup
    // type (view AND click) by the same user, in ONE pass with
    // |types| longs of state per user (a composite-key as-of).
    // Long-format output (one row per purchase
    // x lookup type), so the lookup set widens without schema change;
    // oracle = two conditional edge-value carries over the same batch
    // window, unioned.
    Query("stream_asof_multi", (s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir)
          .where(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t_us"), col("event_type")),
        "gate_asof_multi", "append")(df =>
        graft.streaming.EventStream.asOfLastByType(
          df.toDF("_1", "_2", "_3", "_4")
            .as[(Long, Long, Long, String)]).toDF())
        .select(col("eventId").as("event_id"),
          col("userId").as("user_id"),
          col("lookupType").as("lookup_type"),
          col("lastUs").as("last_us"))
    },
      // two conditional edge-value carries over the same as-of window,
      // long format: one row per purchase x lookup type
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |), m AS (
        |  SELECT user_id, event_id, event_type,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER w AS lv,
        |         max(CASE WHEN event_type = 'click' THEN ts_us END)
        |           OVER w AS lc
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, 'view' AS lookup_type, lv AS last_us
        |FROM m WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT event_id, user_id, 'click' AS lookup_type, lc AS last_us
        |FROM m WHERE event_type = 'purchase'""".stripMargin),

    // PRODUCTION-PARITY STREAMING AS-OF — asOfLastViewBounded: the
    // out-of-order-stream twin with a watermark-keyed lateness buffer
    // and an event-time state TTL (see EventStream.asOfLastViewBounded).
    // Emission is watermark-gated, so the replay's enriched output is
    // exactly the purchases at or before `max event time − lateness`
    // (10 min); the oracle applies the same horizon cut — the lateness
    // tail is precisely what an unbounded stream hasn't finalized yet.
    // Multi-batch out-of-order exactness is pinned in StreamAsOfSpec
    // with a controlled two-batch file replay.
    Query("stream_asof_bounded", (s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).where(col("event_type").isin("view", "purchase"))
          .select(col("user_id").as("userId"),
            col("event_id").as("eventId"), col("ts"),
            unix_micros(col("ts")).as("tsUs"),
            (col("event_type") === "view").as("isView")),
        "gate_asof_bounded", "append")(df =>
        graft.streaming.EventStream.asOfLastViewBounded(
          df.as[graft.streaming.EventStream.AsOfIn]).toDF())
        .select(col("eventId").as("event_id"),
          col("userId").as("user_id"),
          col("lastViewUs").as("last_view_us"))
    },
      // same strictly-prior-view window, cut at the final watermark
      // horizon (max ms-floored event time − 10 min lateness): the
      // watermark-gated stream has finalized exactly these purchases
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), w AS (
        |  SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS h FROM e
        |), m AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS last_view_us
        |  FROM e
        |)
        |SELECT event_id, user_id, last_view_us
        |FROM m, w WHERE event_type = 'purchase' AND ts_us <= w.h""".stripMargin),

    // STREAMING THETA SKETCH — the unbounded-stream twin of
    // rel_theta_sketch_distinct: per-event_type k-smallest-hash state
    // (ONE sorted <= 128-long array per key FOREVER) through the real
    // micro-batch engine on an unordered multi-batch CSV replay.
    // Min-retention is commutative and idempotent, so the streamed
    // sketch equals the batch sketch EXACTLY and the same oracle
    // value-checks the estimate. Readers keep the max-version snapshot
    // per key; the exact count rides along batch-side as accuracy
    // evidence, same as the batch query.
    Query("stream_theta_distinct", (s, dir) => {
      import s.implicits._
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val ev = base.select(col("event_type"), thetaHash(col("key")).as("h"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev,
        "gate_thetadist")(graft.streaming.StreamGate.replayCsvMultiBatch(s,
          _, _, "gate_thetadist", "update")(df =>
          graft.streaming.EventStream.thetaSketchStream(
            df.toDF("_1", "_2").as[(String, Long)]).toDF()))
      val sketches = sink.groupBy(col("key"))
        .agg(max(struct(col("ver"), col("ks"))).as("m"))
        .select(col("key").as("event_type"), col("m.ks").as("ks"))
      val exact = base.groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact"))
      sketches.join(exact, "event_type")
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          kmvEstimate(col("ks"), k).as("est"),
          col("exact"))
    },
      // identical to rel_theta_sketch_distinct's oracle: the streamed
      // k-smallest state must equal the batch sketch exactly
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT event_type, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1
        |), e AS (
        |  SELECT event_type, count(*) AS exact FROM b GROUP BY 1
        |)
        |SELECT s.event_type, s.n_kept,
        |       ${kmvEstimateSql("s.n_kept", "s.theta")} AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin),

    // STREAMING QUANTILE SKETCH WITH BOUNDED STATE — the unbounded-
    // stream twin of rel_quantile_sketch (and the rank-error-bounded
    // replacement of stream_quantile_sketch's log2 buckets): per
    // event_type, the deterministic level sample lives in
    // mapGroupsWithState (level + <= 256 pairs per key FOREVER) and is
    // maintained incrementally across an unordered multi-batch CSV
    // replay. The retained set is a pure function of the row multiset
    // — arrival order and batch slicing cannot change it — so the
    // streamed sketch equals the batch sketch BIT-FOR-BIT and the same
    // from-scratch oracle checks contents and rank readouts. Readers
    // keep the max-version snapshot per key.
    Query("stream_qsketch", (s, dir) => {
      import s.implicits._
      val cap = 256
      val base = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(base,
        "gate_qstream")(graft.streaming.StreamGate.replayCsvMultiBatch(s,
          _, _, "gate_qstream", "update")(df =>
          graft.streaming.EventStream.qsketchStream(
            df.toDF("_1", "_2", "_3").as[(String, Long, Long)], cap).toDF()))
      sink.groupBy(col("key"))
        .agg(max(struct(col("ver"), col("qs"))).as("m"))
        .select(col("key").as("event_type"), col("m.qs").as("qs"))
        .transform(qsketchReadout("event_type"))
    },
      // unbounded-stream stateful path: order-insensitive retained set ⇒
      // streamed == batch bit-for-bit, same from-scratch oracle
      qsketchFromScratchSql),

    // STREAM-TO-WAREHOUSE SKETCH HANDOFF — the Kappa-architecture seam
    // the two sketch queries above each show half of: the STREAM side
    // computes a batch-local KMV partial per micro-batch (a stateless
    // per-batch aggregation — no streaming state at all, executor
    // memory bounded by keys × k longs per batch) and APPENDS it to a
    // parquet store via foreachBatch; a SEPARATE batch reader merges
    // the accumulated partials at read. k-smallest union re-truncation
    // makes the merge lossless over any batch slicing, so the served
    // estimate equals the from-scratch batch sketch bit-for-bit — the
    // oracle never sees the store, only the definition. At 100 TB/day
    // the store grows O(batches × keys × k) — independent of event
    // volume — and serving never rescans the stream.
    Query("stream_sketch_handoff", (s, dir) => {
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val ev = base.select(col("event_type"), thetaHash(col("key")).as("h"))
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "skhandoffstore")
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(ev, "gate_skhandoff")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_skhandoff")(
            (df, id) => graft.streaming.StreamGate.appendBatch(
              df.groupBy("event_type")
                .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
                  .as("ks")),
              id, store)))
        val merged = s.read.parquet(store)
          .groupBy("event_type")
          // O(k) column merge of the appended batch partials
          .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
            .as("ks"))
        val exact = base.groupBy("event_type")
          .agg(countDistinct(col("key")).as("exact"))
        merged.join(exact, "event_type")
          .select(col("event_type"),
            size(col("ks")).cast("long").as("n_kept"),
            round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
              .otherwise(lit((k - 1).toDouble)
                * lit(1.152921504606846976e18)
                / element_at(col("ks"), k).cast("double")), 4).as("est"),
            col("exact"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // lossless over any batch slicing: the merged store partials equal
      // the from-scratch sketch, so the oracle is the same definition
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT event_type, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1
        |), e AS (
        |  SELECT event_type, count(*) AS exact FROM b GROUP BY 1
        |)
        |SELECT s.event_type, s.n_kept,
        |       ${kmvEstimateSql("s.n_kept", "s.theta")} AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin),

    // NON-IDEMPOTENT HANDOFF CONSUMER, PROVEN — the at-least-once
    // caveat on StreamGate.appendBatch made concrete: COUNT/SUM
    // partials (NOT idempotent under re-append, unlike the sketch
    // handoff's k-smallest union) land per micro-batch in an append
    // store, and the query then INJECTS the failure mode into its own
    // checked path — batch 0's partial is re-appended, exactly what a
    // crash between the store write and the checkpoint commit produces
    // on recovery. The read path dedups by batch_id FIRST (per-batch
    // partials are deterministic, so duplicates are identical rows and
    // max = the value) and only then sums across batches — so the
    // oracle-checked totals survive the duplicated append. At 100 TB/
    // day the store holds O(batches × keys) partial rows and the dedup
    // group-by costs O(store), never a stream rescan.
    Query("stream_count_handoff", (s, dir) => {
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "cnthandoffstore")
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(base, "gate_cnthandoff")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_cnthandoff")(
            (df, id) => graft.streaming.StreamGate.appendBatch(
              centsPartial(df), id, store)))
        // inject the at-least-once failure mode: re-append batch 0's
        // partial (a recovered foreachBatch re-running after a crash
        // that hit between store append and checkpoint commit)
        s.read.parquet(store).where(col("batch_id") === 0)
          .write.mode("append").parquet(store)
        s.read.parquet(store)
          .groupBy(col("batch_id"), col("event_type"))
          .agg(max(col("cnt")).as("cnt"),
            max(col("sum_cents")).as("sum_cents"))
          .groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("n_events"),
            sum(col("sum_cents")).as("sum_cents"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // partials partition the stream exactly, and the injected duplicate
      // append is removed by the dedup-by-batch_id read — so the served
      // totals are the plain exact aggregate
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin),

    // EXACTLY-ONCE HANDOFF — the idempotent alternative to the append
    // store above: each micro-batch's partial lands via DYNAMIC
    // PARTITION OVERWRITE into its own batch_id= partition
    // (StreamGate.writeBatchPartition), so a replayed batch
    // REPLACES its previous partition instead of duplicating it. The
    // query re-presents batch 0 through the identical write path (the
    // same recovery scenario the append-store query injects) and the
    // store is byte-identical after — which is why the read path here
    // is a PLAIN scan-and-sum with no dedup filter at all. Same exact
    // totals, same oracle as the at-least-once twin: the two queries
    // differ only in where the idempotence lives (read-side dedup vs
    // write-side replace).
    Query("stream_count_handoff_eo", (s, dir) => {
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val store = graft.streaming.StreamGate.scratchDir("stage", "cnteostore")
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(base, "gate_cnteo")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_cnteo")(
            (df, id) => graft.streaming.StreamGate.writeBatchPartition(
              centsPartial(df), id, store)))
        // replay batch 0 through the identical exactly-once write path:
        // dynamic overwrite replaces partition batch_id=0 in place
        graft.streaming.StreamGate.writeBatchPartition(
          s.read.parquet(store).where(col("batch_id") === 0)
            .drop("batch_id"), 0L, store)
        // exactly-once store ⇒ plain read, no dedup anywhere
        s.read.parquet(store)
          .groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("n_events"),
            sum(col("sum_cents")).as("sum_cents"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // the exactly-once store replaces a replayed batch's partition in
      // place, so the plain scan-and-sum read serves the same exact totals
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin),

    // TRANSACTION-LOG HANDOFF — the third idempotence mechanism, completing
    // the triptych: the append store dedups at READ, the partitioned store
    // replaces at WRITE, and this store PUBLISHES atomically — each batch's
    // partial becomes a data object named by a create-exclusive log commit
    // whose version is the engine's batchId (sources/TxnLog — the public
    // Delta-streaming txn mechanism). Both failure modes are injected
    // in-path: (1) batch 0 is re-presented through the identical publish
    // path — its object rewrites in place, its commit finds version 0
    // already published, store unchanged; (2) a crashed batch's HALF-
    // WRITTEN object is planted in the store directory — no commit names
    // it, so the log-resolved read never sees it (the property neither
    // twin has: their readers trust the directory). Same totals, same
    // oracle as the twins; plain scan-and-sum read, no dedup anywhere.
    Query("stream_txn_sink", (s, dir) => {
      import graft.sources.TxnLog
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "txnsinkstore")
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(base, "gate_txnsink")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_txnsink")(
            (df, id) => graft.streaming.StreamGate.publishBatchTxn(
              centsPartial(df), id, store)))
        val logDir = s"$store/_log"
        val head = TxnLog.latestVersion(s, logDir)
        // (1) recovery replay: re-present batch 0's partial through the
        // identical publish path — the idempotent commit must refuse
        // localCheckpoint first: the publish overwrites the very object
        // the recovered partial is read from (exactly as a real recovery
        // recomputes the batch from source, then rewrites the object)
        val republished = graft.streaming.StreamGate.publishBatchTxn(
          s.read.parquet(s"$store/batch_0").localCheckpoint(true), 0L, store)
        require(!republished, "replayed batch 0 must not publish twice")
        require(TxnLog.latestVersion(s, logDir) == head,
          "replay must not advance the log")
        // (2) crash-mid-write garbage: a half-written object with no
        // commit — invisible to the log-resolved read below
        s.range(1).selectExpr("'GARBAGE' AS event_type",
          "9L AS cnt", "9L AS sum_cents")
          .write.mode("overwrite").parquet(s"$store/batch_orphan")
        TxnLog.readSnapshot(s, logDir, head)
          .groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("n_events"),
            sum(col("sum_cents")).as("sum_cents"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // the txn-log store publishes atomically: a replayed batch's commit
      // refuses, uncommitted garbage is invisible — same exact totals
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin),

    // THE FULL STREAMING CDC LOOP — ingest through the exactly-once txn
    // sink, then a DOWNSTREAM consumer that never reads a snapshot:
    // starting from v0 it tails the log version-by-version, reads ONLY
    // the objects each transaction touched (`changedBetween` — required
    // in-path to be exactly one appended object per micro-batch, no
    // removes), and folds the delta into its running aggregate with the
    // per-step localCheckpoint lineage truncation of the iterative
    // operators. The in-path merge-equals-recompute require pins the
    // incrementally-maintained state equal to the head-snapshot
    // recompute, row for row — the rel_ivm_agg discipline applied to
    // the stream-to-lakehouse handoff. At 100 TB this is the
    // production topology: producers publish atomic commits, consumers
    // pay O(transaction) bytes per version, and every prefix of the
    // stream stays a readable snapshot.
    Query("stream_txn_cdc_pipeline", (s, dir) => {
      import graft.sources.TxnLog
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "txncdcstore")
      // 3 staged files, like every other multi-batch CSV replay: each
      // staged file is one micro-batch = one log version for the tailing
      // consumer below; the head >= 1 require keeps the multi-batch shape
      // load-bearing
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(base, "gate_txncdc")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_txncdc")(
            (df, id) => graft.streaming.StreamGate.publishBatchTxn(
              centsPartial(df), id, store)))
        val logDir = s"$store/_log"
        val log = TxnLog.readLog(s, logDir)
        val head = TxnLog.latestVersion(s, logDir)
        require(head >= 1, s"need multiple micro-batches, got ${head + 1}")
        def fold(paths: Seq[String]): DataFrame =
          s.read.parquet(paths: _*).groupBy("event_type")
            .agg(sum(col("cnt")).as("n_events"),
              sum(col("sum_cents")).as("sum_cents"))
        var state = fold(TxnLog.liveFiles(log, 0L)).localCheckpoint(true)
        (1L to head).foreach { v =>
          val (added, removed) = TxnLog.changedBetween(log, v - 1, v)
          require(removed.isEmpty && added.size == 1,
            s"v$v should be one appended object: +$added -$removed")
          state = state.unionByName(fold(added))
            .groupBy("event_type")
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_cents")).as("sum_cents"))
            .localCheckpoint(true)
        }
        // one multiset-equality pass (±1 tags, all per-tuple sums zero)
        // instead of two exceptAll probes that each re-plan both sides
        val scratch = fold(TxnLog.liveFilesAt(s, logDir, head))
        require(state.withColumn("_side", lit(1L))
          .unionByName(scratch.withColumn("_side", lit(-1L)))
          .groupBy(state.columns.toSeq.map(col): _*)
          .agg(sum(col("_side")).as("_d"))
          .where(col("_d") =!= 0L)
          .isEmpty,
          "incremental CDC state diverged from the snapshot recompute")
        state
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // the incremental tail must land on exactly the full-stream totals
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin),

    // STREAM-TO-STORE QUANTILE-SKETCH HANDOFF — the qsketch partials
    // ride the EXACTLY-ONCE store, and that choice is the point:
    // unlike the KMV handoff above (k-smallest SET union — duplicate
    // partials merge away, append store fine), the quantile sketch is
    // a MULTISET of (hash, value) pairs, so an at-least-once duplicate
    // append would double-count retained rows. The write side is
    // therefore the dynamic-partition-overwrite store (a replayed
    // batch replaces its partition) and the read is a plain O(cap)
    // graft_qsketch_merge — proven here by re-presenting batch 0
    // through the identical write path before reading. Lossless merge
    // identity ⇒ the served sketch equals the from-scratch sketch of
    // all events, contents and all; the oracle never sees the store.
    Query("stream_qsketch_handoff", (s, dir) => {
      val cap = 256
      val base = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "qshandoffstore")
      try {
        graft.streaming.StreamGate.stageCsvAndReplay(base, "gate_qshandoff")(
          graft.streaming.StreamGate.replayCsvForeachBatch(s, _, _,
            "gate_qshandoff")(
            (df, id) => graft.streaming.StreamGate.writeBatchPartition(
              df.groupBy("event_type")
                .agg(graft.functions.GraftFunctions
                  .qsketch(col("h"), col("cents"), cap).as("qs")),
              id, store)))
        // replay batch 0 through the identical exactly-once write path
        // — the store must be unchanged or the multiset merge breaks
        graft.streaming.StreamGate.writeBatchPartition(
          s.read.parquet(store).where(col("batch_id") === 0)
            .drop("batch_id"), 0L, store)
        s.read.parquet(store)
          .groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketchMerge(col("qs"), cap).as("qs"))
          .transform(qsketchReadout("event_type"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    },
      // stream-to-store path (exactly-once partials, replayed batch
      // replaces): lossless merge ⇒ same from-scratch oracle
      qsketchFromScratchSql),

    // STREAMING THETA SET OPERATIONS ACROSS TWO STREAMS — the audience-
    // algebra twin of rel_theta_{union_merge,intersect,diff}: the click
    // and purchase user-day keys arrive on two INDEPENDENT streams
    // (separate multi-batch replays — production's two pipelines each
    // snapshotting its own ≤128-long sketch state), and the final
    // max-version snapshots combine in O(k) on the executors: merged
    // k-smallest for the union, θ = min(θ_a, θ_b) membership for
    // intersection/difference. Min-retention is commutative+idempotent,
    // so each streamed sketch equals its batch sketch EXACTLY and the
    // combined estimates are value-checked by the batch oracles; exact
    // counts ride along as accuracy evidence.
    Query("stream_theta_setops", (s, dir) => {
      import s.implicits._
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      // ONE replay carries BOTH sides: thetaSketchStream keys its state
      // by event_type, so the click and purchase sketches come out of
      // the same streaming session as two state keys — the per-replay
      // fixed cost (query start, per-micro-batch incremental planning,
      // state-store checkpoints) is paid once instead of twice. KMV
      // state is the k smallest distinct hashes per key — commutative
      // and idempotent — so each side's final (max-version) sketch is
      // identical to what its own single-side replay produced.
      val ev = base.select(col("event_type"), thetaHash(col("key")).as("h"))
      val sink = graft.streaming.StreamGate.stageCsvAndReplay(ev,
        "gate_thetaso")(graft.streaming.StreamGate.replayCsvMultiBatch(s,
          _, _, "gate_thetaso", "update")(df =>
          graft.streaming.EventStream.thetaSketchStream(
            df.toDF("_1", "_2").as[(String, Long)]).toDF()))
      val fin = sink.groupBy(col("key"))
        .agg(max(struct(col("ver"), col("ks"))).as("m"))
      val a = fin.where(col("key") === "click")
        .select(col("m.ks").as("ka"))     // 1 row: click sketch
      val b = fin.where(col("key") === "purchase")
        .select(col("m.ks").as("kb"))     // 1 row: purchase sketch
      val flags = base.groupBy("key").agg(
        max((col("event_type") === "click").cast("int")).as("ha"),
        max((col("event_type") === "purchase").cast("int")).as("hb"))
      val exacts = flags.agg(count(lit(1)).as("exact_union"),
        sum(when(col("ha") === 1 && col("hb") === 1, 1L).otherwise(0L))
          .as("exact_inter"),
        sum(when(col("ha") === 1 && col("hb") === 0, 1L).otherwise(0L))
          .as("exact_diff"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exacts))
        // union: global k-smallest of the merged arrays (each global
        // k-smallest hash is inside its own segment's k-smallest, so
        // the merge is lossless — same argument as the daily merge)
        .withColumn("ku", expr(s"slice(array_sort(array_union(ka, kb)), " +
          s"1, $k)"))
        .withColumn("theta",
          least(kmvTheta(col("ka"), k), kmvTheta(col("kb"), k)))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_diff",
          size(expr("filter(array_except(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(
          size(col("ku")).cast("long").as("n_union"),
          kmvEstimate(col("ku"), k).as("est_union"),
          col("s_inter"),
          round(col("s_inter").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est_inter"),
          col("s_diff"),
          round(col("s_diff").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est_diff"),
          col("exact_union"), col("exact_inter"), col("exact_diff"))
    },
      // the two streamed sketches equal their batch sketches exactly, so
      // the combined estimates equal the batch set-operation oracles
      s"""WITH b AS (
        |  SELECT DISTINCT event_type,
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h, nd FROM r WHERE rn <= 128
        |), hu AS (
        |  SELECT DISTINCT h FROM h
        |), ru AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hu
        |), su AS (
        |  SELECT count(*) AS n_union, max(h) AS theta_u
        |  FROM ru WHERE rn <= 128
        |), t AS (
        |  SELECT min(th) AS theta FROM (
        |    SELECT CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |                ELSE max(h) END AS th
        |    FROM k GROUP BY event_type)
        |), si AS (
        |  SELECT count(*) AS s_inter
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka
        |  JOIN (SELECT h FROM k WHERE event_type = 'purchase') kb
        |    USING (h), t
        |  WHERE h < t.theta
        |), sd AS (
        |  SELECT count(*) AS s_diff
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka, t
        |  WHERE ka.h < t.theta
        |    AND ka.h NOT IN (SELECT h FROM k WHERE event_type = 'purchase')
        |), ex AS (
        |  SELECT count(DISTINCT key) AS exact_union,
        |         count(DISTINCT CASE WHEN n = 2 THEN key END)
        |           AS exact_inter
        |  FROM (SELECT key, count(DISTINCT event_type) AS n
        |        FROM b GROUP BY key)
        |), exd AS (
        |  SELECT count(*) AS exact_diff FROM (
        |    SELECT key FROM b WHERE event_type = 'click'
        |    AND key NOT IN (SELECT key FROM b WHERE event_type = 'purchase'))
        |)
        |SELECT su.n_union,
        |       ${kmvEstimateSql("su.n_union", "su.theta_u")} AS est_union,
        |       si.s_inter,
        |       round(si.s_inter::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est_inter,
        |       sd.s_diff,
        |       round(sd.s_diff::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est_diff,
        |       ex.exact_union, ex.exact_inter, exd.exact_diff
        |FROM su, t, si, sd, ex, exd""".stripMargin),
  )
}
