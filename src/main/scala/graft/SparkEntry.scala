package graft

import graft.ops.{Dedup, Joins, NaiveCsv, Quality, Rank, Similarity, TextOps}
import graft.pipelines.{StockCount, WordCount}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ extensions), each paired with equivalent DuckDB SQL in
  * `oracleSql` over the same parquet tables.
  *
  * Conventions for oracle parity (the driver hash-compares after sorting
  * columns by name):
  *   - every computed column is aliased identically on both sides;
  *   - counts/ranks/sizes are BIGINT on both sides (Spark `size`/`row_number`
  *     are cast to long);
  *   - money/value aggregates go through DECIMAL (order-independent exact
  *     sums — double sums would be nondeterministic across partitions), are
  *     cast to the same precision/scale on both sides, and the FINAL output
  *     column is then cast to DOUBLE on both sides: decimal *rendering*
  *     differs across engines (trailing-zero scale digits, e.g. `101951.00`
  *     vs `101951.0`) and fails a textual hash even when values are equal.
  *     The decimal→double conversion is correctly rounded in both engines
  *     and the unscaled values stay far below 2^53 at test SFs, so the
  *     doubles are bit-identical;
  *   - NEVER reduce a decimal's scale in the intermediate cast: Spark rounds
  *     (HALF_UP) but DuckDB truncates on decimal downcasts, so sums keep
  *     the natural scale of the arithmetic (e.g. price*discount sums stay
  *     scale 4) before the final double cast;
  *   - rounding-mode-sensitive integer quantization uses `floor(x + 0.5)`
  *     spelled out on BOTH sides (`round()` half-way behavior is not
  *     engine-portable), and squares are written `d * d` (`pow(x, 2)` is
  *     not guaranteed bit-equal to the product);
  *   - multi-term double formulas (BM25 scores, cosine ratios) are written
  *     in the SAME literal operation order on both sides and rounded to 6
  *     decimals, which absorbs last-ulp differences from libm/aggregation
  *     order without masking real errors;
  *   - anything nondeterministic is banned: sampling/splits hash the row
  *     key (md5 buckets), rank/limit boundaries always carry an id
  *     tiebreak, and streaming replays advance watermarks with sentinel
  *     rows baked into the staged data.
  */
object SparkEntry {

  // ---- shared inputs ------------------------------------------------------

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (rejected by Spark unless
    * `nanosAsLong` reads it as a raw long) and plain TIMESTAMP(MICROS)
    * without UTC adjustment (read as TIMESTAMP_NTZ). Normalize both to a
    * session-zone TIMESTAMP so every downstream query sees one type:
    * nanos-long is rebuilt with integer `div` (not `/` — nanos ~1.7e18
    * exceeds double's 2^53 exact-integer range), and NTZ is cast under
    * the session's UTC zone (wall-clock-preserving, matching how the
    * DuckDB oracle reads the same naive micros). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** dedup_lsh_recall's truth-side df cap: a shingle shared by more than
    * this many SAMPLED docs is treated as non-discriminative and excluded
    * from the truth definition (consistently on both sides of the recall
    * ratio — found = truth ∩ candidates). Bounds the per-shingle pair
    * expansion at cap^2 regardless of how universal a boilerplate
    * shingle is. Mirrored literally in the DuckDB oracle. */
  private[graft] val TruthDfCap = 64

  /** Shared input shape for the `rel_running_*` prefix-frame family:
    * event stream under the (t, event_id) total order, value in
    * milli-units as an exact long, NULL for 'error' events (so the SQL
    * null semantics of each running aggregate are actually exercised). */
  private def valuedEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      unix_micros(col("ts")).as("t"), col("event_id"),
      when(col("event_type") =!= "error",
        round(col("value") * 1000).cast("long")).as("v"))

  /** Scale-adaptive parquet split size for a LOCAL session over `sfDir`.
    * The test inputs are single small files (lineitem at sf0.1 is one
    * ~11 MB file), so Spark's production default of 128 MB per split
    * serializes every base-table scan into ONE task at any core count —
    * the biggest single source of the anti-scaling the r18 driver bench
    * measured (a scan-plus-aggregate query like rel_q14_promo ran as one
    * 1.7 s serial task on 32 idle cores). The split derives from the
    * actual input size so a few waves of scan tasks cover the cores,
    * clamped to [512 KB, 128 MB]: at production scale the derivation
    * saturates at the 128 MB default (guide §6 — large sequential splits
    * are what a 100 TB scan wants), so this is scale-shape adaptation,
    * not a local-only constant. SPARK_GRAFT_MAX_SPLIT_BYTES overrides
    * both the derivation and the cap. */
  def adaptiveMaxSplitBytes(sfDir: String, cpus: Int): Long =
    sys.env.get("SPARK_GRAFT_MAX_SPLIT_BYTES").map(_.toLong).getOrElse {
      val total =
        try {
          Option(new java.io.File(sfDir).listFiles())
            .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
        } catch { case _: Throwable => 0L }
      math.min(128L << 20,
        math.max(512L << 10, total / math.max(1, 2 * cpus)))
    }

  /** Support-filtered part co-purchase pair list shared by the
    * kcore/coreness/ktruss decompositions: parts sharing an order >= 2
    * times, directed a < b. Basket shape (the rel_basket_pairs /
    * rel_item_cooccur_sim scale discipline): ONE orderkey shuffle builds
    * each order's sorted distinct-part basket, the a < b pairs generate
    * MAP-SIDE with per-order-bounded fan-out, and ONE (a, b) shuffle
    * counts support — where the old items-self-join shape paid a
    * (orderkey, partkey) distinct exchange plus the self-join's two
    * orderkey re-shuffles for the exact same pair multiset (sorted
    * distinct baskets make "all a < b part pairs within an order" and
    * "join on orderkey with partkey < partkey" literally the same set). */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(
        graft.functions.GraftFunctions.sortedPairs(col("parts")))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2)
      .select(col("a"), col("b"))

  /** SCD Type-2 dimension built from the signup changelog: one row per
    * (user, version) with [vf, vt) micros effectivity, vt NULL while
    * current. Shared by `rel_scd2_build` (the dimension itself) and
    * `rel_scd2_pit` (point-in-time enrichment). */
  private def scd2Dim(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("vf", "event_id")
    events(s, dir).where(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("vf"),
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("vt", lead(col("vf"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("vt").isNull)
      .drop("event_id")
  }

  /** 60-bit uniform hash for the Theta/KMV sketch family: the first 15
    * hex digits of md5 of the value's decimal string. Engine-portable —
    * DuckDB reproduces it as `('0x' || substr(md5(x::VARCHAR),1,15))::
    * BIGINT`, so sketch contents (and therefore the set-operation
    * estimates) are oracle-checked bit-exactly. */
  private def thetaHash(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Same value shape but keeping the raw TIMESTAMP key — for the
    * interval-RANGE frames that order by the instant directly. */
  private def valuedEventsTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("ts"), col("event_id"),
      when(col("event_type") =!= "error",
        round(col("value") * 1000).cast("long")).as("v"))

  /** `ROWS UNBOUNDED PRECEDING .. CURRENT ROW` over the (t, event_id)
    * total order. GlobalScanRule rewrites this explicit-ROWS frame and
    * the default RANGE frame alike (RANGE emits tie groups their group
    * total — see `rel_running_range_total`). */
  private def prefixWindow: org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)

  /** `ROWS k PRECEDING .. CURRENT ROW` over the same (t, event_id) total
    * order — the bounded sliding frame GlobalFrameRule rewrites into the
    * boundary-seeded GlobalFrame operator. */
  private def slidingWindow(k: Int)
  : org.apache.spark.sql.expressions.WindowSpec = slidingBetween(-k, 0)

  /** General bounded `ROWS lo .. hi` frame over the (t, event_id) total
    * order (negative = preceding, positive = following). */
  private def slidingBetween(lo: Int, hi: Int)
  : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("event_id")).rowsBetween(lo, hi)

  /** BPE merge training over the corpus word frequencies: k rounds of
    * (count adjacent symbol pairs weighted by word freq) → (merge the
    * top pair, (cnt DESC, pair ASC) tiebreak) → (rewrite the distinct-
    * word table). Distributed: each round is one pair aggregation over
    * the CHECKPOINTED distinct-word frame (vocabulary-sized, not
    * corpus-sized) and only the k winning pairs ever reach the driver —
    * the model, not the data. Shared by `text_bpe_merges` (the merge
    * table itself) and `text_bpe_encode` (application). */
  private def bpeTrainMerges(s: SparkSession, dir: String, k: Int)
  : Seq[(Int, String, Long)] = {
    var words = tbl(s, dir, "documents")
      .select(explode(graft.ops.Dedup.cleanTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("ws"),
        col("freq"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val syms = split(col("ws"), " ")
      val top = words.where(size(syms) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(syms) - 1),
          i => concat_ws(" ", element_at(syms, i),
            element_at(syms, i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        merges += ((step, pair, top(0).getLong(1)))
        words = words.select(
          replace(col("ws"), lit(pair), lit(pair.replace(" ", "")))
            .as("ws"), col("freq"))
          .localCheckpoint(false)
        step += 1
      }
    }
    merges.toSeq
  }

  /** JVM-lifetime staging root for the batch source round-trip queries
    * (`src_*`): the returned DataFrames read from these files LAZILY (the
    * caller materializes them after the query builder returns), so the
    * directory must outlive the builder — it is removed by a shutdown
    * hook, not per-call (`File.deleteOnExit` can't delete non-empty
    * dirs). Writes use overwrite so bench repeats reuse the same paths. */
  private lazy val stageRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      "graft-batch-stage-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.streaming.StreamGate.deleteRecursively(d.toString)))
    d
  }
  private def staged(name: String): String =
    stageRoot.resolve(name).toString

  /** Write `df` (which must carry a long `bucket` column with values
    * 0..nBuckets-1) as ONE partitioned parquet job, then rename each
    * partition directory up to `$root/<prefix><i>` — a driver-side
    * metadata move on the local stage — so the staged root holds exactly
    * the flat data objects a transaction log will name. Object contents
    * are identical to per-bucket filtered writes (partition columns
    * never land in the files); the single job replaces nBuckets
    * full-scan writes of pure per-invocation fixed cost. Returns the
    * object paths in bucket order.
    *
    * PRECONDITIONS (this is a local-stage fixture helper, not a general
    * mover): `root` must be on the LOCAL filesystem — the renames use
    * java.nio Files.move, bypassing the Hadoop FS abstraction — and must
    * be freshly wiped, or a pre-existing destination directory throws
    * FileAlreadyExistsException. The renamed objects carry no per-object
    * _SUCCESS markers (harmless to the txn-log readers, which list only
    * the paths the log names). */
  private def stagePartitionedObjects(s: SparkSession, root: String,
      prefix: String, df: DataFrame, nBuckets: Int = 4): Seq[String] = {
    val broot = s"$root/_parts"
    df.write.mode("overwrite").partitionBy("bucket").parquet(broot)
    val out = (0 until nBuckets).map { i =>
      val src = java.nio.file.Paths.get(s"$broot/bucket=$i")
      val dst = java.nio.file.Paths.get(s"$root/$prefix$i")
      require(java.nio.file.Files.isDirectory(src),
        s"staged bucket object missing (empty bucket?): $src")
      java.nio.file.Files.move(src, dst)
      dst.toString
    }
    graft.streaming.StreamGate.deleteRecursively(broot)
    out
  }

  /** Stage the transaction-log table for one `src_txn_*` / time-travel
    * query (sources/TxnLog — the lakehouse metadata layer over plain
    * parquet). Five serial commits build a deterministic history over
    * `orders(o_orderkey, o_orderstatus, o_totalprice)` bucketed by
    * `o_orderkey % 4`:
    *
    *   v0  add b0            v1  add b1, b2        v2  add b3   (full table)
    *   v3  remove b2, add b2d = b2 WHERE o_orderstatus <> 'F'
    *       (a copy-on-write DELETE transaction)
    *   v4  remove b0, b1, add c01 = their compacted rewrite
    *       (metadata-transacted compaction — a content no-op)
    *
    * Each query stages under its OWN root (`txnlog_<name>`): commits are
    * create-exclusive, so the stager resets the root first, and a shared
    * root would let one query's reset (or the vacuum query's physical
    * delete) corrupt another's lazily-read snapshot. A log entry is a
    * data OBJECT — the directory one parquet write produced — not a
    * single file; at 100 TB a commit's add-set is whatever the
    * distributed write laid down, and the log stays O(actions) either
    * way. Returns the log directory. */
  private def txnLogStage(s: SparkSession, dir: String, name: String)
      : String = {
    import graft.sources.TxnLog
    val root = staged(s"txnlog_$name")
    graft.streaming.StreamGate.deleteRecursively(root)
    val logDir = s"$root/_log"
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    def obj(part: String, df: DataFrame): String = {
      val d = s"$root/$part"
      df.write.mode("overwrite").parquet(d)
      d
    }
    // ONE partitioned write lays down all 4 bucket objects (identical
    // rows and columns to four filtered writes — partition columns never
    // land in the files); 7 queries stage through here, and 4 separate
    // full-scan writes were pure per-invocation fixed cost. The
    // partition directories are then RENAMED up to the flat b0..b3
    // object paths (a driver-side metadata move on the local stage) so
    // the root holds exactly the objects the log names — orphan GC and
    // the path-shape requires in the vacuum/clone/gc queries see the
    // same layout as before.
    val b = stagePartitionedObjects(s, root, "b",
      orders.withColumn("bucket", col("o_orderkey") % 4))
    // checkpointEvery = 2 routes the history through real checkpoints
    // (v2, v4): snapshot resolution in every src_txn_* query below reads
    // one checkpoint + the commit tail, never the whole log — the
    // O(tail) path a long-lived 100 TB table needs
    TxnLog.commit(s, logDir, 0L, adds = Seq(b(0)), checkpointEvery = 2)
    TxnLog.commit(s, logDir, 1L, adds = Seq(b(1), b(2)), checkpointEvery = 2)
    TxnLog.commit(s, logDir, 2L, adds = Seq(b(3)), checkpointEvery = 2)
    val b2d = obj("b2_del", orders.where(
      col("o_orderkey") % 4 === 2 && col("o_orderstatus") =!= "F"))
    TxnLog.commit(s, logDir, 3L, adds = Seq(b2d), removes = Seq(b(2)),
      checkpointEvery = 2)
    val c01 = obj("c01", s.read.parquet(b(0), b(1)))
    TxnLog.commit(s, logDir, 4L, adds = Seq(c01),
      removes = Seq(b(0), b(1)), checkpointEvery = 2)
    logDir
  }

  /** Stage the copy-on-write MERGE history for the `src_txn_merge` /
    * `src_txn_cdf` queries: v0 commits `orders` as 4 key-range buckets
    * (per-object [min,max] key stats stamped into the log at write
    * time); v1 is a MERGE transaction — the bucket-1 keys divisible by
    * 97 are updated (status 'U', price doubled) and fresh rows past the
    * key ceiling inserted (status 'N', price 1.0). The rewrite set is
    * planned from the LOG ALONE (the stats prove exactly one object can
    * contain an updated key), so the merge reads and rewrites that
    * object only; the other three survive untouched — both facts
    * require'd here. Each caller stages under its own root (commits are
    * create-exclusive). Returns the log directory. */
  private def txnMergeStage(s: SparkSession, dir: String, name: String)
      : String = {
    import graft.sources.TxnLog
    val root = staged(s"txn_merge_$name")
    graft.streaming.StreamGate.deleteRecursively(root)
    val logDir = s"$root/_log"
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val w = (mx + 4) / 4 // 4 key-range buckets covering [0, mx]
    def writeObj(part: String, df: DataFrame): (String, String) = {
      val d = s"$root/$part"
      df.write.mode("overwrite").parquet(d)
      val r = s.read.parquet(d)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      (d, s"${r.getLong(0)},${r.getLong(1)}")
    }
    // ONE partitioned write lays down the 4 key-range base objects
    // (o_orderkey div w reproduces [i*w, (i+1)*w) exactly, and 4w > mx
    // keeps every bucket < 4), renamed up to the flat b0..b3 paths; ONE
    // grouped aggregate over the written files reads back all 4
    // [min,max] stats (each object holds exactly its key range, so
    // regrouping the union by the same congruence attributes every row
    // to its object) — versus 4 full-scan writes + 4 read-back
    // aggregates of fixed cost per invocation. Stats still come from
    // the bytes on disk.
    val bPaths = stagePartitionedObjects(s, root, "b",
      orders.withColumn("bucket", expr(s"o_orderkey div $w")))
    val statRows = s.read.parquet(bPaths: _*)
      .groupBy(expr(s"o_orderkey div $w").as("bucket"))
      .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      .collect()
      .map(r => r.getLong(0) -> s"${r.getLong(1)},${r.getLong(2)}")
      .toMap
    require(statRows.keySet == (0L to 3L).toSet,
      s"staged base objects missing a bucket: ${statRows.keySet}")
    val base = (0 until 4).map(i => (bPaths(i), statRows(i.toLong)))
    TxnLog.commit(s, logDir, 0L, adds = base.map(_._1),
      stats = base.toMap, checkpointEvery = 2)
    val (uLo, uHi) = (w, 2 * w)
    val isUpd = col("o_orderkey") % 97 === 0 &&
      col("o_orderkey") >= uLo && col("o_orderkey") < uHi
    // plan the rewrite from log metadata alone — no data file opened
    val live = TxnLog.liveActionsAt(s, logDir, 0L)
    val hit = live.filter { a =>
      val Array(lo, hi) = a.stats.get.split(',').map(_.toLong)
      lo < uHi && hi >= uLo
    }.map(_.path)
    require(hit.size == 1,
      s"stats targeting should hit exactly 1 of ${live.size}: $hit")
    val rewritten = writeObj("b1_merge",
      s.read.parquet(hit: _*).select(col("o_orderkey"),
        when(isUpd, lit("U")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(isUpd, col("o_totalprice") * 2).otherwise(col("o_totalprice"))
          .as("o_totalprice")))
    val inserted = writeObj("ins",
      orders.where(isUpd).select(
        (col("o_orderkey") + mx).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
    TxnLog.commit(s, logDir, 1L, adds = Seq(rewritten._1, inserted._1),
      removes = hit, stats = Map(rewritten, inserted),
      checkpointEvery = 2)
    val after = TxnLog.liveFilesAt(s, logDir, 1L)
    require(after.size == 5 &&
      base.map(_._1).count(after.contains) == 3,
      s"merge must leave the 3 un-hit objects in place: $after")
    logDir
  }

  /** Status-keyed value aggregate of a TxnLog snapshot — the shared
    * readout of the time-travel queries (decimal-exact sum, double
    * rendering, per the oracle-parity conventions above). */
  private def txnSnapAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("tot"))

  /** Synthetic raw-CSV-line view of `documents`, exercising the reference's
    * naive-split semantics: field 0 = id, interior = headline (with embedded
    * commas injected around the word "spark"), field n-2 = lang ("date"
    * slot), field n-1 = source ("stock" slot). */
  private def docLines(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      concat_ws(",", col("doc_id"),
        replace(col("text"), lit(" spark "), lit(",spark,")),
        col("lang"), col("source")).as("line"))

  /** Same construction in DuckDB SQL (literal `replace` on both sides —
    * non-overlapping left-to-right replace-all in both engines; avoids a
    * regex pass on the hot path feeding 8 queries). */
  private val linesCte =
    """WITH lines AS (
      |  SELECT doc_id, lang,
      |         concat_ws(',', doc_id,
      |                   replace(text, ' spark ', ',spark,'),
      |                   lang, source) AS line
      |  FROM documents
      |)""".stripMargin

  private lazy val stopListSql: String =
    TextOps.stopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB equivalent of Java's `String.split(",")`: Java drops ALL
    * trailing empty fields while DuckDB's `string_split` keeps them, so
    * strip trailing commas first. Exact for any input whose first field is
    * non-empty (always true here: lines start with `doc_id`) — the one
    * divergent case, an all-commas line, can't occur. */
  private def javaSplitSql(src: String): String =
    s"string_split(regexp_replace($src, ',+$$', ''), ',')"

  /** DuckDB token stream (scrub + whitespace split + unnest), matching
    * [[TextOps.scrub]]/[[TextOps.tokenize]]. */
  private def tokensCte(src: String): String =
    s"""toks AS (
       |  SELECT unnest(string_split_regex(
       |           regexp_replace(lower($src), '[^a-z ]', ' ', 'g'),
       |           '\\s+')) AS token
       |  FROM documents
       |)""".stripMargin

  /** DuckDB oracle for `rel_hash_chain_global`, in CLOSED FORM: the
    * recurrence h_i = M*h_{i-1} + tok_i (mod 2^32) expands to
    * h_i = m^i * sum_{j<=i} tok_j * inv^j (inv = M^-1 mod 2^32, which
    * exists because M is odd) — a windowed prefix sum plus per-row
    * modular powers via 24-bit binary decomposition (constants
    * generated here with BigInt modPow). A naive recursive-CTE oracle
    * is O(n) sequential iterations (measured ~80 s at sf0.01); this is
    * one vectorized pass (~0.3 s). Every product stays below 2^64, so
    * HUGEINT (int128) arithmetic is exact throughout. */
  private val hashChainOracleSql: String = {
    val M = 16777619L
    val MOD = BigInt(1) << 32
    val inv = BigInt(M).modInverse(MOD)
    val mp = (0 until 24).map(k => BigInt(M).modPow(BigInt(1) << k, MOD))
    val ip = (0 until 24).map(k => inv.modPow(BigInt(1) << k, MOD))
    def powExpr(bits: Seq[BigInt], v: String): String =
      bits.zipWithIndex.foldLeft("1::HUGEINT") { case (acc, (p, k)) =>
        s"(($acc * (CASE WHEN ($v >> $k) & 1 = 1 THEN $p::HUGEINT " +
          s"ELSE 1::HUGEINT END)) % 4294967296)"
      }
    s"""WITH e AS (
       |  SELECT event_id,
       |         ('0x' || substr(md5(coalesce(event_type, '~') || ':' ||
       |            coalesce(cast(round(value * 1000) AS bigint), -1)::VARCHAR),
       |            1, 8))::UBIGINT::HUGEINT AS tok,
       |         row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events
       |), u AS (
       |  SELECT event_id, rn,
       |         (tok * ${powExpr(ip, "rn")}) % 4294967296 AS uj
       |  FROM e
       |), s AS (
       |  SELECT event_id, rn,
       |         (sum(uj) OVER (ORDER BY rn)) % 4294967296 AS si
       |  FROM u
       |)
       |SELECT event_id,
       |       cast((si::HUGEINT * ${powExpr(mp, "rn")}) % 4294967296
       |            AS bigint) AS chain
       |FROM s""".stripMargin
  }

  /** DuckDB expression for [[Dedup.cleanTokens]] over column `src`. */
  private def cleanToksSql(src: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($src), " +
      s"'[^a-z ]', ' ', 'g'), '\\s+'), x -> x <> '')"

  /** DuckDB expression for [[Dedup.shingles]] (n=3) over token list `l`. */
  private val shinglesSql: String =
    """CASE WHEN len(l) >= 3
      |     THEN list_transform(range(1, len(l)-1),
      |                         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
      |     ELSE [array_to_string(l, ' ')] END""".stripMargin

  private lazy val stopListDuck: String =
    TextOps.stopWords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Full-corpus BM25 scores for the fixed query terms — shared by
    * text_bm25 (top-20 positive scores) and emb_hybrid_rrf (rank-fusion
    * input). Tokenized once and materialized: `base` feeds three
    * consumers (corpus stats, per-doc tf, the scored join) which would
    * each re-run the tokenization otherwise. */
  private def bm25ScoresDf(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "dup")
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), Dedup.cleanTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("double").as("dl"))
      .localCheckpoint(false)
    val statAggs = count(lit(1)).cast("double").as("n") +:
      avg(col("dl")).as("avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), t).cast("int")).cast("double")
          .as(s"df$i")
      }
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, 1).otherwise(0)).cast("double").as(s"tf$i")
    }
    val tfs = base
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val norm = lit(0.25) + lit(0.75) * col("dl") / col("avgdl")
    val score = terms.indices.map { i =>
      val tf = coalesce(col(s"tf$i"), lit(0.0))
      log((col("n") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0)) *
        (tf * lit(2.2)) / (tf + lit(1.2) * norm)
    }.reduce(_ + _)
    base.select(col("doc_id"), col("dl"))
      .join(tfs, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
  }

  /** (doc_id, sig0..sig7) via the native MinHashSigExpr — shared input of
    * the dedup_minhash/lsh/jaccard queries. */
  private def minhashSigDf(s: SparkSession, dir: String): DataFrame = {
    val sigs = tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSig(col("text"), 8).as("sig"))
    sigs.select(col("doc_id") +:
      (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"sig$i")): _*)
  }

  /** Exact n-gram Jaccard on LSH candidate pairs: bands generate the
    * candidates (O(collisions), not O(n^2)); exact distinct-shingle
    * intersection/union only on those pairs. Shared by
    * dedup_jaccard_pairs and dedup_connected_components.
    *
    * The shingle array is computed ONCE (localCheckpointed) and feeds
    * BOTH consumers — the MinHash signatures (via the from-shingles
    * expression; duplicate-invariant, so identical values) and the
    * exact sets. Without the shared pass the tokenize+shingle work ran
    * twice per document. */
  private def jaccardPairsDf(s: SparkSession, dir: String): DataFrame =
    jaccardPairsWithSetsDf(s, dir)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jaccard"))

  /** LSH candidate pairs with exact distinct-shingle set sizes —
    * (id1, id2, inter, uni, n1, n2) — shared by the Jaccard and
    * containment scorers (same candidates, different ratios). */
  private def jaccardPairsWithSetsDf(s: SparkSession, dir: String)
  : DataFrame = {
    val sh = tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.GraftFunctions.shingles(col("text")).as("shg"))
      .localCheckpoint(false)
    val sigArr = graft.functions.GraftFunctions
      .minhashSigFromShingles(col("shg"), 8).as("sig")
    val sigs = sh.select(col("doc_id"), sigArr)
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"sig$i")): _*)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
    val sets = sh.select(col("doc_id"), array_distinct(col("shg")).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("inter"),
        size(array_union(col("sh1"), col("sh2"))).as("uni"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
  }

  /** DuckDB sig0..sig7 select-list fragment over shingle list `sh`:
    * the mod-(2^61-1) universal-hash MinHash ([[Dedup.minhashSignature]])
    * — one md5 per shingle parsed as an unsigned 64-bit word, then the
    * same fixed (a_i, b_i) mixes in exact HUGEINT arithmetic. */
  private val sigsSql: String = {
    val p = graft.functions.TextHashes.P61
    val cs = graft.functions.TextHashes.mixConsts(8)
    val x = s"(('0x' || substr(md5(s), 1, 16))::UBIGINT % $p)::HUGEINT"
    (0 until 8).map { i =>
      val (a, b) = cs(i)
      s"list_aggregate(list_transform(sh, s -> " +
        s"cast(($a::HUGEINT * $x + $b::HUGEINT) % $p::HUGEINT AS BIGINT)" +
        s"), 'min') AS sig$i"
    }.mkString(",\n       ")
  }

  /** (doc_id, idx, chunk) — fixed 10-token chunks of every document
    * (CCNet-style "paragraphs"), localCheckpointed because both consumers
    * read the explode output twice (chunk-frequency agg + join back).
    * Shared by dedup_chunk_dedup (ignores idx) and dedup_chunk_removal
    * (uses idx to restore document order) so the chunking definition can
    * never drift between the accounting and removal halves. */
  private def chunksDf(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.cleanTokens(col("text"))
    val nc = greatest(ceil(size(toks) / lit(10.0)).cast("int"), lit(1))
    tbl(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"), nc.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10)))))
          .as(Seq("idx", "chunk")))
      .localCheckpoint(false)
  }

  /** DuckDB twin of [[chunksDf]]: defines `ch(doc_id, idx, chunk)`;
    * expects `t(doc_id, l)` in scope. */
  private val chunkCtes: String =
    """chs AS (
      |  SELECT doc_id,
      |         unnest(list_transform(
      |           range(0, greatest(1, cast(ceil(len(l) / 10.0) AS int))),
      |           i -> {'idx': i,
      |                 'chunk': array_to_string(l[i*10+1 : i*10+10], ' ')}))
      |           AS s
      |  FROM t
      |),
      |ch AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk FROM chs)""".stripMargin

  /** Shared banded-LSH candidate-pair CTE chain (expects `shl(doc_id, sh)`
    * in scope): sigs -> bands -> per-band sizes -> SALTED pairs. Models
    * the engine's `maxBucket` salting ([[Dedup.lshCandidatePairs]],
    * 10000): an over-cap band bucket splits into ceil(c/10000)
    * md5-salted sub-buckets and pairs form only within a sub-bucket, so
    * the oracle stays faithful at every ladder rung — not only where no
    * bucket happens to overflow. One definition feeds all seven
    * pair-chain oracles (jaccard, containment, CC, PageRank, triangle
    * census, LSH recall, fuzzy-dedup capstone). */
  private val lshPairsCtes: String = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""sigs AS (SELECT doc_id,
       |       $sigsSql
       |FROM shl),
       |bands AS (
       |  $bands
       |),
       |bsz AS (SELECT band, count(*) AS c FROM bands GROUP BY 1),
       |salted AS (
       |  SELECT doc_id, band,
       |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
       |           % ((c - 1) // 10000 + 1) AS salt
       |  FROM bands JOIN bsz USING (band)
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM salted a JOIN salted b
       |    ON a.band = b.band AND a.salt = b.salt AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** DuckDB CTEs assigning each vector its LCG sign-projection bucket
    * (matches [[Similarity.lshBucket]](dims=64, planes=8)); expects the
    * `v` unnest CTE in scope, defines `lcg` and `buckets`. */
  private val lcgBucketCtes: String =
    """lcg AS (
      |  SELECT vec_id, p.p,
      |         sum(cast(vx AS double) *
      |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
      |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
      |           AS dot
      |  FROM v CROSS JOIN (SELECT range AS p FROM range(8)) p
      |  GROUP BY vec_id, p.p
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
      |              AS bigint) AS bucket
      |  FROM lcg GROUP BY vec_id
      |)""".stripMargin

  /** [[lcgBucketCtes]] widened to 24 planes: `buckets` from planes 0-7
    * (identical values) plus `xsigs(vec_id, xsig)` — the 16-bit extended
    * signature from planes 8-23 that the capped near-dup join's
    * refinement level keys on ([[Similarity.nearDupPairsBlocked]] with
    * `firstPlane = 8`). */
  private val lcgBucketXsigCtes: String =
    """lcg AS (
      |  SELECT vec_id, p.p,
      |         sum(cast(vx AS double) *
      |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
      |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
      |           AS dot
      |  FROM v CROSS JOIN (SELECT range AS p FROM range(24)) p
      |  GROUP BY vec_id, p.p
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
      |              FILTER (WHERE p < 8) AS bigint) AS bucket
      |  FROM lcg GROUP BY vec_id
      |),
      |xsigs AS (
      |  SELECT vec_id,
      |         cast(sum(CASE WHEN dot > 0 THEN power(2, p - 8) ELSE 0 END)
      |              FILTER (WHERE p >= 8) AS bigint) AS xsig
      |  FROM lcg GROUP BY vec_id
      |)""".stripMargin

  /** DuckDB twin of the capped within-block self-join
    * ([[Similarity.nearDupPairsBlocked]] with a finite `maxBlock`):
    * expects `blocks(vec_id, blk)` and `xsigs(vec_id, xsig)` in scope,
    * defines `pairs(id1, id2)`. Level 1 splits an over-cap block into
    * 2^e sub-buckets keyed by the low e xsig bits (e = bit-length of
    * ceil(b/cap) - 1, capped at 16); level 2 md5-salts any sub-bucket
    * still over TWICE the cap — both levels integer/md5-exact, so they
    * reproduce the engine's pair set at every data scale, not only where
    * no block happens to overflow. */
  private def embSaltedPairsCtes(cap: Int): String =
    s"""bsz AS (SELECT blk, count(*) AS b FROM blocks GROUP BY 1),
       |esz AS (
       |  SELECT blk,
       |         least(CASE WHEN (b - 1) // $cap = 0 THEN 0
       |                    ELSE length(bin((b - 1) // $cap)) END, 16) AS e
       |  FROM bsz
       |),
       |refined AS (
       |  SELECT vec_id, blk, xsig & ((1::BIGINT << e) - 1) AS sub
       |  FROM blocks JOIN esz USING (blk) JOIN xsigs USING (vec_id)
       |),
       |bsz2 AS (SELECT blk, sub, count(*) AS b2 FROM refined GROUP BY 1, 2),
       |salted AS (
       |  SELECT vec_id, blk, sub,
       |         ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
       |           % ((b2 - 1) // ${2 * cap} + 1) AS salt
       |  FROM refined JOIN bsz2 USING (blk, sub)
       |),
       |pairs AS (
       |  SELECT a.vec_id AS id1, bb.vec_id AS id2
       |  FROM salted a JOIN salted bb
       |    ON a.blk = bb.blk AND a.sub = bb.sub AND a.salt = bb.salt
       |   AND a.vec_id < bb.vec_id
       |)""".stripMargin

  /** DuckDB twin of the one-pass covariance ([[graft.ops.Pca]]): expects
    * the `v` unnest CTE in scope, defines `mu(pos, m)` and
    * `cov(i, j, c)` — the full symmetric population covariance
    * Cᵢⱼ = Σxᵢxⱼ/n − μᵢμⱼ. */
  private val pcaCovCtes: String =
    """mu AS MATERIALIZED (
      |  SELECT pos, sum(cast(vx AS double)) / count(*) AS m
      |  FROM v GROUP BY pos
      |),
      |cxy AS MATERIALIZED (
      |  SELECT a.pos AS i, b.pos AS j,
      |         sum(cast(a.vx AS double) * cast(b.vx AS double)) AS sxy,
      |         count(*) AS n
      |  FROM v a JOIN v b ON a.vec_id = b.vec_id
      |  GROUP BY 1, 2
      |),
      |cov AS MATERIALIZED (
      |  SELECT i, j, sxy / n - m1.m * m2.m AS c
      |  FROM cxy JOIN mu m1 ON cxy.i = m1.pos JOIN mu m2 ON cxy.j = m2.pos
      |)""".stripMargin

  /** DuckDB twin of [[graft.ops.Pca.powerIteration]]: `iters` chained
    * matvec+normalize CTE pairs from the all-equal unit start (replaying
    * the engine's EXACT fixed-step arithmetic — parity does not rest on
    * convergence), then the same largest-|loading| sign normalization.
    * Expects `cov` in scope, defines `fin(pos, vv)`. */
  private def pcaPowerCtes(iters: Int, dims: Int): String = {
    // every link in the chain is MATERIALIZED: DuckDB otherwise INLINES
    // multiply-referenced CTEs, and a 24-deep chain of w_k/it_k pairs
    // (each referencing the previous twice) expands exponentially —
    // observed as "too many open files" from the repeated parquet scans
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT cov.i AS pos, sum(cov.c * it${k - 1}.vv) AS wv
         |  FROM cov JOIN it${k - 1} ON cov.j = it${k - 1}.pos GROUP BY 1
         |),
         |it$k AS MATERIALIZED (
         |  SELECT pos, wv / (SELECT sqrt(sum(wv * wv)) FROM w$k) AS vv
         |  FROM w$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""it0 AS MATERIALIZED (
       |  SELECT DISTINCT pos, 1.0 / sqrt($dims.0) AS vv FROM v
       |),
       |$steps,
       |pick AS (
       |  SELECT min(pos) AS p0 FROM it$iters
       |  WHERE abs(vv) = (SELECT max(abs(vv)) FROM it$iters)
       |),
       |fin AS MATERIALIZED (
       |  SELECT pos,
       |         vv * (SELECT CASE WHEN t.vv >= 0 THEN 1.0 ELSE -1.0 END
       |               FROM it$iters t, pick WHERE t.pos = pick.p0) AS vv
       |  FROM it$iters
       |)""".stripMargin
  }

  /** DuckDB CTE chain computing each document's predicted language into
    * `p(keyCol, lang_pred)` — shared by text_lang_id / text_lang_confusion. */
  private def langPredCtes(keyCol: String): String = {
    val markers = Seq("en", "es", "fr", "de")
    val ratioDefs = markers.map { l =>
      val list = Quality.langMarkers(l).map(w => s"'$w'").mkString("[", ", ", "]")
      s"CASE WHEN len(l) = 0 THEN 0.0 ELSE " +
        s"cast(len(list_filter(l, x -> list_contains($list, x))) AS double)" +
        s" / cast(len(l) AS double) END AS r_$l"
    }.mkString(",\n    ")
    val whens = markers.map(l =>
      s"WHEN best >= 0.02 AND r_$l = best THEN '$l'").mkString("\n       ")
    s"""WITH t AS (SELECT $keyCol, ${cleanToksSql("text")} AS l FROM documents),
       |r AS (
       |  SELECT $keyCol,
       |    $ratioDefs
       |  FROM t
       |), b AS (
       |  SELECT $keyCol, r_en, r_es, r_fr, r_de,
       |         greatest(r_en, r_es, r_fr, r_de) AS best
       |  FROM r
       |), p AS (
       |  SELECT $keyCol,
       |         CASE $whens
       |              ELSE 'unknown' END AS lang_pred
       |  FROM b
       |)""".stripMargin
  }

  /** DuckDB from-scratch rebuild of the deterministic quantile sketch
    * over ALL events (see functions/QuantileSketchAgg.scala): minimal
    * level keeping <= 256 rows by md5(event_id) trailing zeros, exact
    * retained contents + rank readouts. Shared by rel_quantile_sketch,
    * rel_sql_qsketch, and stream_qsketch_handoff — each builds the
    * same sketch through a different engine path (one group-by, a SQL
    * build+merge, a stream-to-store handoff), and the lossless merge
    * identity makes all three equal this one definition. */
  private val qsketchFromScratchSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |         cast(round(value * 1000) AS bigint) AS cents,
      |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
      |           AS h
      |  FROM events
      |), z AS (
      |  SELECT *, CASE WHEN h = 0 THEN 60
      |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
      |            END AS tz
      |  FROM t
      |), lev AS (
      |  SELECT event_type, l, count(*) FILTER (WHERE tz >= l) AS cnt
      |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
      |  GROUP BY 1, 2
      |), lv AS (
      |  SELECT event_type, min(l) AS lvl FROM lev WHERE cnt <= 256
      |  GROUP BY 1
      |), ret AS (
      |  SELECT z.event_type, z.h, z.cents, lv.lvl
      |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
      |), ord AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY cents, h) AS rv,
      |         count(*) OVER (PARTITION BY event_type) AS m
      |  FROM ret
      |)
      |SELECT event_type, cast(lvl AS bigint) AS lvl,
      |       cast(m AS bigint) AS n_kept,
      |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
      |                THEN cents END) AS p50_cents,
      |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
      |                THEN cents END) AS p95_cents,
      |       lvl::VARCHAR || ';' ||
      |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
      |                    ORDER BY h, cents) AS contents
      |FROM ord GROUP BY event_type, lvl, m""".stripMargin

  /** DuckDB CTE exploding embeddings to (vec_id, label, pos, vx). */
  private val embUnnestCte =
    """v AS (
      |  SELECT vec_id, label, unnest(embedding) AS vx,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |)""".stripMargin

  /** PQ codebook: per subspace j, the per-label mean subvectors (sorted by
    * label — position therefore equals label, which the ADC lookup relies
    * on). The mean of a slice equals the slice of the mean, so one
    * vector-mean aggregate (the emb_centroids plan) trains every subspace;
    * entries are rounded to 6 decimals before any distance math so both
    * engines quantize against bit-identical model values. Driver state is
    * the model only (k x dims doubles). */
  private def pqCodebook(s: SparkSession, dir: String, m: Int = 4,
                         subDim: Int = 16): Seq[Seq[(Long, Seq[Double])]] = {
    val cents = graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
      .select(col("grp").cast("long").as("lbl"),
        transform(col("centroid"), x => round(x, 6)).as("mv"))
      .orderBy("lbl").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    // The ADC lookup (`element_at(array(tab...), code + 1)`) treats the
    // centroid LABEL as an array POSITION. That is only sound when labels
    // are exactly 0..k-1 with no gaps — enforce it loudly here rather than
    // silently fetching wrong distances downstream on gapped label sets.
    val labels = cents.map(_._1)
    require(labels == (0L until labels.length.toLong),
      s"PQ codebook labels must be contiguous 0..k-1 (ADC lookup is " +
        s"positional); got ${labels.mkString("[", ",", "]")}")
    (0 until m).map(j => cents.map { case (l, mv) =>
      l -> mv.slice(j * subDim, (j + 1) * subDim) })
  }

  /** IVF×PQ composed search (Jégou et al. 2011's IVFADC — the shape
    * that serves billion-vector ANN): the coarse quantizer routes the
    * query to nprobe=3 of 10 cells, PQ codes score ONLY those cells'
    * candidates through 4 asymmetric-distance lookup tables (no raw
    * vectors touched), and exact cosine re-ranks just the 50-vector ADC
    * shortlist. Per query the exact-arithmetic cost drops from N
    * vectors (brute force) to ~3N/10 (IVF raw) to a FIXED 50 (this
    * composition). All distance math is the same rounded-deterministic
    * arithmetic as the component queries, so the oracle replays
    * routing, ADC, and re-rank end to end. Shared by
    * `emb_ivfpq_search` and the `emb_ivfpq_recall` contract. */
  private def ivfPqTop10(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val cb = pqCodebook(s, dir)
    val qvec = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val qarr = array(qvec.map(lit): _*)
    val qnorm = math.sqrt(qvec.map(x => x * x).sum)
    // stage 1 — coarse routing: top-3 cells by rounded centroid cosine
    val probed = graft.ops.Similarity.centroids(
        emb, col("embedding"), col("label"))
      .select(col("grp").as("clabel"),
        round(Similarity.dot(col("centroid"), qarr) /
          (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
            lit(qnorm)), 6).as("ccos"))
      .orderBy(col("ccos").desc, col("clabel").asc)
      .limit(3).select("clabel")
    // stage 2 — ADC over the probed cells only: per-subspace distance
    // tables from the model (driver math, broadcast as literals)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
      val qs = qvec.slice(j * 16, (j + 1) * 16)
      cents.map { case (_, mv) =>
        r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }
    val candidates =
      emb.join(broadcast(probed), col("label") === col("clabel"))
    val codes = Similarity.pqCodes(candidates, col("embedding"),
      col("vec_id"), cb, subDim = 16)
    val adc = round(dt.zipWithIndex.map { case (tab, j) =>
      element_at(array(tab.map(lit): _*),
        (col(s"code_$j") + 1).cast("int"))
    }.reduce(_ + _), 6)
    val shortlist = codes.select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
    // stage 3 — exact re-rank of the 50-row shortlist only
    emb.join(broadcast(shortlist), "vec_id")
      .select(col("vec_id"), col("adc"),
        round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
  }

  /** DuckDB twin of [[graft.ops.Similarity.pqCodes]] over [[embUnnestCte]]:
    * `cb` = rounded per-(label, subspace) mean entries, `d` = rounded
    * squared L2 of every (vector, subspace, entry), `codes` = argmin with
    * the min-label tiebreak (rn = 1). */
  private val pqCodesCte =
    """cb AS (
      |  SELECT label AS clabel, (pos - 1) // 16 AS sub, pos,
      |         round(avg(cast(vx AS double)), 6) AS m
      |  FROM v GROUP BY label, (pos - 1) // 16, pos
      |),
      |d AS (
      |  SELECT v.vec_id, cb.sub, cb.clabel,
      |         round(sum(cast(v.vx AS double) * cast(v.vx AS double))
      |               - 2 * sum(cast(v.vx AS double) * cb.m)
      |               + sum(cb.m * cb.m), 6) AS d2
      |  FROM v JOIN cb ON v.pos = cb.pos
      |  GROUP BY v.vec_id, cb.sub, cb.clabel
      |),
      |codes AS (
      |  SELECT vec_id, sub, clabel,
      |         row_number() OVER (PARTITION BY vec_id, sub
      |                            ORDER BY d2 ASC, clabel ASC) AS rn
      |  FROM d
      |)""".stripMargin

  /** DuckDB CTE chain of the IVF×PQ composition ([[ivfPqTop10]]) over
    * [[embUnnestCte]] + [[pqCodesCte]]: query unnest (`q`/`qq`), coarse
    * cells (`c`/`cs`), top-3 routing (`probed`), per-subspace ADC tables
    * (`qsub`/`dt`), probed-cell ADC scores (`adc`), the 50-vector
    * shortlist (`short`), and the exact re-rank inputs over just the
    * shortlist (`ed`). Shared by the `emb_ivfpq_search` and
    * `emb_ivfpq_recall` oracles, which differ only in the final select. */
  private val ivfPqCtes =
    """q AS (
      |  SELECT unnest(embedding) AS qx,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings WHERE vec_id = 0
      |), qq AS (
      |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
      |), c AS (
      |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
      |  FROM v GROUP BY label, pos
      |), cs AS (
      |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
      |         sum(m * m) AS aa
      |  FROM c JOIN q USING (pos) GROUP BY clabel
      |), probed AS (
      |  SELECT clabel FROM (
      |    SELECT clabel, row_number() OVER (
      |      ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC, clabel)
      |      AS rn
      |    FROM cs, qq) WHERE rn <= 3
      |), qsub AS (
      |  SELECT (pos - 1) // 16 AS sub, pos, cast(qx AS double) AS qx
      |  FROM q
      |), dt AS (
      |  SELECT cb.sub, cb.clabel,
      |         round(sum((qsub.qx - cb.m) * (qsub.qx - cb.m)), 6) AS dd
      |  FROM qsub JOIN cb ON qsub.pos = cb.pos
      |  GROUP BY cb.sub, cb.clabel
      |), adc AS (
      |  SELECT cd.vec_id, round(sum(dt.dd), 6) AS adc
      |  FROM codes cd
      |  JOIN dt ON cd.sub = dt.sub AND cd.clabel = dt.clabel
      |  JOIN embeddings e ON e.vec_id = cd.vec_id
      |  WHERE cd.rn = 1
      |    AND e.label IN (SELECT clabel FROM probed)
      |  GROUP BY cd.vec_id
      |), short AS (
      |  SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id ASC LIMIT 50
      |), ed AS (
      |  SELECT v.vec_id,
      |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
      |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
      |  FROM v JOIN q USING (pos)
      |  WHERE v.vec_id IN (SELECT vec_id FROM short)
      |  GROUP BY v.vec_id
      |)""".stripMargin

  /** Two-pass EXACT global heavy hitters — report every token whose count
    * exceeds N/k of the whole corpus stream, without ever shuffling the
    * full key cardinality.
    *
    * Pass 1 runs a Misra-Gries candidate sketch ([[graft.functions
    * .MisraGriesAgg]]) as ONE global ObjectHashAggregate: partial bounded
    * maps per partition, one merged map (<= capacity entries) on the
    * driver, plus the stream total N in the same aggregate. The MG
    * invariant — undercount <= N/(capacity+1) — makes the surviving keys
    * a guaranteed SUPERSET of every key with count > N/k whenever
    * capacity >= k-1, so pass 2 (exact counting restricted to the
    * candidates, then the exact HAVING threshold) returns exactly the
    * naive groupBy/HAVING answer, which is what the oracle re-derives.
    *
    * The scale point: a plain groupBy/HAVING over an open 100 TB
    * vocabulary shuffles EVERY distinct key; this plan's only key-shuffle
    * carries rows for <= `cap` candidate keys (the InSet filter sits
    * below the exchange), and the sketch pass shuffles one bounded map
    * per partition. Driver state is O(cap). At the test corpus the
    * 31-token vocabulary fits the sketch exactly; the shrink path and the
    * superset bound under real Zipfian skew are exercised in
    * HeavyHittersSpec. */
  private def heavyHittersDf(s: SparkSession, dir: String): DataFrame =
    graft.ops.FrequentItems.exactHeavyHitters(
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token")),
      col("token"),
      k = 50L,   // report tokens with count > N/50 (2% of the stream)
      cap = 64)  // MG capacity; superset guarantee needs cap >= k-1
      .select(col("token"), col("cnt"))

  /** Edit-distance-1 similarity self-join via deletion-neighborhood
    * blocking (the SymSpell/FastSS signature scheme): each name emits
    * itself plus every single-character deletion as signatures; two
    * strings within Levenshtein distance 1 ALWAYS share a signature
    * (substitution: delete the differing position from both;
    * insert/delete: the shorter string IS a deletion of the longer), so
    * an equi-join on the signature finds every true pair and a final
    * exact `levenshtein` check discards the collisions (two different
    * deletions can meet at distance 2, e.g. "abc"/"cab" at "ab").
    *
    * The scale shape: candidate generation is an EQUI-join — shuffle by
    * signature, len+1 signatures per row, and a signature bucket can only
    * hold strings one insertion away from it (intrinsically bounded by
    * alphabet x length, never corpus-sized) — versus the quadratic
    * all-pairs scan the oracle runs. This is the fuzzy-join primitive for
    * typo-level entity resolution over billions of keys. */
  private def editPairsDf(s: SparkSession, dir: String): DataFrame =
    graft.ops.FrequentItems.editDistance1Pairs(
      tbl(s, dir, "customer").select(col("c_name").as("name")).distinct())

  /** EXACT set-similarity self-join (shingle Jaccard >= t) via
    * rarest-first prefix filtering — the AllPairs family (Bayardo et al.,
    * WWW'07; Xiao et al. PPJoin), the exact complement to the
    * LSH-candidate chain (`dedup_jaccard_pairs` can miss pairs LSH
    * doesn't collide; this query provably finds every pair).
    *
    * Machinery: each doc's distinct shingle set is sorted by GLOBAL
    * rarity (document frequency asc, shingle asc — one canonical total
    * order for the corpus), and only the first n - ceil(t*n) + 1
    * shingles (the "prefix") are exploded into the candidate join. Two
    * sets with Jaccard >= t MUST share a prefix element: with the size
    * band |a| >= t*|b| their overlap is >= ceil(t*n) on both sides, and
    * if the smallest common shingle sat outside either prefix, all
    * common shingles would have to fit in that side's ceil(t*n)-1
    * suffix — contradiction. So prefix + size filters lose nothing, and
    * the exact Jaccard verify on candidates discards false positives.
    *
    * The scale shape: the candidate join is an EQUI-join on prefix
    * shingles only (~(1-t) of each set), and rarest-FIRST ordering keeps
    * boilerplate shingles out of prefixes — bucket sizes track the df of
    * RARE shingles, not corpus size. The quadratic all-pairs scan the
    * oracle runs is exactly what this plan avoids. */
  private def ssjoinExactDf(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSimilarityPairs(
      tbl(s, dir, "documents").select(col("doc_id"),
        array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))).as("sh")),
      // no checkpoint: the operator consumes `sh` exactly once (its
      // dictionary-encoded per-doc arrays are what feed prefix + verify)
      t = 0.6)

  /** Shared modulus and per-replica affine mix constants for
    * rel_bootstrap_ci: replica b remixes the row's md5 seed as
    * (a_b·x + c_b) mod (2³¹−1) with (a_b, c_b) = (48271^(b+1),
    * 69621^(b+1)) mod P — generated once here and interpolated
    * verbatim into BOTH the Spark plan and the DuckDB oracle so the
    * "random" weights are the same bits on both engines. */
  private[graft] val BootP = 2147483647L
  private[graft] val bootMix: Seq[(Long, Long, Long)] = {
    def powmod(g: Long, e: Long): Long = {
      var r = 1L; var b = g % BootP; var n = e
      while (n > 0) {
        if ((n & 1) == 1) r = r * b % BootP
        b = b * b % BootP; n >>= 1
      }
      r
    }
    (0 until 20).map(b =>
      (b.toLong, powmod(48271L, b + 1L), powmod(69621L, b + 1L)))
  }

  // ---- flagship -----------------------------------------------------------

  /** Flagship: the full StockCount pipeline on sf0.001 document lines. */
  def entry(spark: SparkSession): DataFrame =
    StockCount.fromLines(
      docLines(spark, "/root/testdata/sf0.001").select(col("line").as("value")))

  // ---- queries ------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1: parquet scan + projection + filter (pushdown/pruning path)
    "s1_scan_project_filter" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("source"))
        .where(col("n_chars") > 200)),

    // ---- source format round-trips (CSV / JSON / ORC) ---------------------
    // Each stages a table slice in the target format (distributed write)
    // and reads it back through that format's source with an explicit
    // schema; the oracle reads the ORIGINAL parquet, so the round-trip
    // must be value-exact (RFC-4180 quoting for CSV commas, shortest
    // round-trip double rendering, ISO timestamps). The staged dirs live
    // under a JVM-lifetime root removed by a shutdown hook.

    // the staged `line` column carries embedded commas (docLines injects
    // them around "spark"), so the write MUST quote and the read MUST
    // unquote — a real RFC-4180 round-trip, not a comma-free fast path
    // Hive-partitioned sink + partition-pruned source as a first-class
    // registry query (PartitionPruningSpec pins the PartitionFilters; this
    // pins the VALUES): documents written partitionBy(lang), read back
    // with a lang predicate that must prune to one directory — the layout
    // that turns a 100 TB corpus scan into a per-language scan. The
    // partition column round-trips through directory names (value <->
    // path encoding), which is exactly what the oracle cross-checks.
    // Bucketed layout + co-located join: BOTH fact tables are written
    // bucketed (and bucket-sorted) by the join key, so every subsequent
    // join on that key is a LOCAL merge of pre-hashed bucket files — no
    // exchange on either side. At 100 TB a fact-fact join's shuffle is
    // the dominant cost; bucketing pays it ONCE at ingest and amortizes
    // it across every downstream query (the lineitem⋈orders family here
    // runs in seven registry queries alone). 8 buckets at test scale —
    // production sizing targets ~128 MB-1 GB per bucket file. The
    // repartition before each write aligns task hashing with bucket
    // hashing (same Murmur3 pmod), yielding ONE file per bucket. The
    // files are also bucket-sorted; Spark still plans a local per-bucket
    // sort below the merge join (since 3.0 it trusts file order only
    // under a legacy conf, because multi-file buckets broke it) — that
    // sort is partition-local over already-sorted runs, shuffle-free.
    // PlanAuditSpec pins: bucketed scans on both sides, and the ONLY
    // exchange in the whole plan is the final 3-row aggregation's.
    "src_bucketed_join" -> ((s, dir) => {
      val nb = 8
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(nb, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
        .option("path", staged("bucketed_orders"))
        .saveAsTable("graft_bucketed_orders")
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(nb, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
        .option("path", staged("bucketed_lineitem"))
        .saveAsTable("graft_bucketed_lineitem")
      s.table("graft_bucketed_orders").hint("merge")
        .join(s.table("graft_bucketed_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"))
    }),

    // Small-file compaction (ops/Compaction): stage a deliberately
    // fragmented layout (64 files for 500 docs — the shape a streaming
    // sink or per-task ingest leaves behind), then rewrite it into
    // size-targeted files. The value check is content IDENTITY through
    // the rewrite; CompactionSpec pins the sizing contract (file count =
    // ceil(bytes/target), derived from the layout's actual bytes).
    "src_compaction" -> ((s, dir) => {
      val frag = staged("compact_in")
      val out = staged("compact_out")
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      graft.ops.Compaction.compact(s, frag, out, 64 * 1024L)
      s.read.parquet(out)
    }),

    // MANIFEST / ZONE-MAP FILE PRUNING — the Iceberg/Delta data-skipping
    // shape done with plain parquet: write range-clustered files, reduce
    // them to an O(files) manifest of per-file [min, max] (one
    // aggregation keyed by input_file_name), and answer a selective
    // range query by reading ONLY the files whose zone overlaps. The
    // require() makes the skip real — at 100 TB this is the difference
    // between listing a manifest and scanning the lake; the exact
    // predicate re-applies on the survivors, so pruning can only skip
    // whole files, never change the answer (the oracle runs the plain
    // full-table filter).
    "src_manifest_prune" -> ((s, dir) => {
      val d = staged("manifest_orders")
      tbl(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_totalprice"))
        .write.mode("overwrite").parquet(d)
      val stats = s.read.parquet(d)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .collect() // the manifest: O(files) rows
      val (qLo, qHi) = (50000.0, 150000.0)
      val picked = stats.filter(r =>
        r.getDouble(1) <= qHi && r.getDouble(2) >= qLo).map(_.getString(0))
      require(picked.length < stats.length,
        s"zone-map pruning skipped nothing (${picked.length} of " +
          s"${stats.length} files) — range clustering failed")
      if (picked.isEmpty) {
        // the query range overlaps no file's [min,max] zone: the correct
        // answer is the empty aggregate — spark.read.parquet with zero
        // paths would throw "unable to infer schema" instead
        import org.apache.spark.sql.types._
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("o_orderpriority", StringType),
            StructField("n", LongType, nullable = false),
            StructField("tot", DoubleType))))
      } else {
        s.read.parquet(picked.toSeq: _*)
          .where(col("o_totalprice") >= qLo && col("o_totalprice") <= qHi)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("tot"))
      }
    }),

    // Z-ORDER CLUSTERING + MULTI-DIM DATA SKIPPING — what 1-D range
    // clustering (src_manifest_prune) cannot do: a predicate on the
    // SECOND dimension. Two layouts of the same orders slice are staged:
    // price-range-clustered, and clustered by the Morton curve over
    // (price, order-day), both dims normalized to the full 16-bit curve
    // range (un-normalized dims degenerate the curve to one-dim-major
    // order — the classic z-order mistake). The same O(files) zone-map
    // manifest is built over each, and a DATE-narrow query is pruned
    // against both: the price-clustered layout must read EVERY file
    // (each file spans all dates — that require is the negative
    // control), the z-ordered layout at most half (its files are
    // rectangles in (price, day) space). The exact predicate re-applies
    // on survivors, so skipping whole files never changes the answer;
    // the curve value orders the LAYOUT only and is dropped before the
    // write. At 100 TB this is the difference between scanning the lake
    // and reading one date band of every price tier.
    "src_zorder_prune" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      // layout-only quantization: fixed spans, never data-derived (a
      // clustering pass must not need a prior global min/max job)
      // epoch = 1992-01-01 and span = 2405 days: the full TPC-H order-date
      // range (1992-01-01 .. 1998-08-02), so every order maps into the
      // positive curve range — a mismatched epoch would clamp the early
      // years onto one Morton coordinate, exactly the un-normalized-dims
      // degeneration the comment below warns against
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long")
      val pq = least(floor(col("o_totalprice") * 65535.0 / 600000.0)
        .cast("long"), lit(65535L))
      val dq = least(greatest(floor(day * 65535.0 / 2405.0).cast("long"),
        lit(0L)), lit(65535L))
      def stage(name: String, clusterBy: Column): String = {
        val out = staged(name)
        o.repartitionByRange(16, clusterBy)
          .sortWithinPartitions(clusterBy)
          .write.mode("overwrite").parquet(out)
        out
      }
      val zDir = stage("zorder_2d",
        graft.functions.GraftFunctions.zorder(pq, dq))
      val pDir = stage("zorder_1d", col("o_totalprice"))
      // the zone-map manifest: per-file [min, max] of the DAY number
      def manifest(d: String): Array[(String, Long, Long)] =
        s.read.parquet(d)
          .groupBy(input_file_name().as("f"))
          .agg(min(day).as("dlo"), max(day).as("dhi"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // date-narrow predicate: 1997-01-01 <= o_orderdate < 1997-07-01,
      // i.e. day numbers 1827..2007 INCLUSIVE from the 1992-01-01 epoch
      // (1992..1996 = 366+365+365+365+366 = 1827 days; 1997-06-30 is
      // day 1827 + 180 = 2007)
      val (qLo, qHi) = (1827L, 2007L)
      def prune(m: Array[(String, Long, Long)]): Seq[String] =
        m.filter { case (_, lo, hi) => lo <= qHi && hi >= qLo }
          .map(_._1).toSeq
      val zM = manifest(zDir); val pM = manifest(pDir)
      val zPick = prune(zM); val pPick = prune(pM)
      require(pPick.size == pM.length,
        s"negative control broken: price clustering pruned the date " +
          s"query (${pPick.size} of ${pM.length})")
      // skip-fraction floor: the date band (~7.5% of the day span) lands
      // on 5-9 of 16 curve rectangles depending on where the SAMPLED
      // range-partition boundaries fall at each data size (measured
      // sf0.001 .. x30); 0.6 bounds that jitter while the negative
      // control above pins the real contrast — the 1-D layout reads ALL
      // files, the curve layout provably skips
      require(zPick.size.toDouble <= zM.length * 0.6,
        s"z-order pruned nothing: ${zPick.size} of ${zM.length} files")
      s.read.parquet(zPick: _*)
        .where(col("o_orderdate") >= lit("1997-01-01")
          && col("o_orderdate") < lit("1997-07-01"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("tot"))
    }),

    "src_partitioned_roundtrip" -> ((s, dir) => {
      val out = staged("part_docs")
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    }),

    // Schema evolution across parquet file generations — the lake
    // reality where old files lack columns new files carry. Two staged
    // batches diverge (the legacy batch has no `lang`), mergeSchema
    // unifies them at READ time (footer-metadata union only — no data
    // rewrite, the missing column materializes as NULL), and the
    // aggregate is null-aware. At 100 TB schema migration is a metadata
    // operation, never a table rewrite.
    "src_schema_evolution" -> ((s, dir) => {
      val legacy = staged("evo_legacy"); val modern = staged("evo_modern")
      val docs = tbl(s, dir, "documents")
      docs.where(col("source") === "src0")
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(legacy)
      docs.where(col("source") =!= "src0")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(modern)
      s.read.option("mergeSchema", "true").parquet(legacy, modern)
        .groupBy(coalesce(col("lang"), lit("<legacy>")).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    }),

    "src_csv_roundtrip" -> ((s, dir) => {
      val out = staged("csv_doc_lines")
      // value-exactness options pinned EXPLICITLY on both sides (not left
      // to Spark defaults, which differ between read and write and could
      // drift across versions): no whitespace trimming in either direction,
      // and written empty strings stay empty strings on read (not null).
      docLines(s, dir).select(col("doc_id"), col("lang"), col("line"))
        .write.mode("overwrite").option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("emptyValue", "\"\"").csv(out)
      s.read
        .schema("doc_id BIGINT, lang STRING, line STRING")
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("emptyValue", "").csv(out)
    }),

    "src_json_roundtrip" -> ((s, dir) => {
      val out = staged("json_events")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").json(out)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, ts_us BIGINT")
        .json(out)
    }),

    "src_orc_roundtrip" -> ((s, dir) => {
      val out = staged("orc_orders")
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    }),

    // Avro container files through the avro-mapred formats (the spark-avro
    // DataSource module is not on this classpath; see AvroRoundTrip —
    // executors write one container file per partition and read them back
    // as splits; the oracle reads the ORIGINAL parquet, so the binary
    // round-trip must be value-exact, nulls and doubles included)
    "src_avro_roundtrip" -> ((s, dir) => {
      val out = staged("avro_supplier")
      val slice = tbl(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      graft.sources.AvroRoundTrip.write(slice, out)
      graft.sources.AvroRoundTrip.read(s, out, slice.schema)
    }),

    // SNAPSHOT ISOLATION / TIME TRAVEL over a transaction log
    // (sources/TxnLog): version 2 predates the copy-on-write DELETE, so
    // its snapshot must read the full table; version 4 follows both the
    // delete and a compaction commit, so it must show the delete and
    // NOTHING from the compaction (a content no-op). The require pins
    // that head resolution is log algebra — exactly 3 live objects
    // (c01, b2d, b3), never a directory listing.
    "src_time_travel" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "tt")
      val log = TxnLog.readLog(s, logDir)
      val head = TxnLog.liveFiles(log, 4L)
      require(head.size == 3,
        s"head snapshot should resolve to 3 data objects, got $head")
      def snap(v: Long): DataFrame =
        txnSnapAgg(TxnLog.readSnapshot(s, logDir, v))
          .withColumn("version", lit(v))
          .select(col("version"), col("o_orderstatus"), col("n"),
            col("tot"))
      snap(2L).unionAll(snap(4L))
    }),

    // INCREMENTAL (CDC-style) version consumption: the rows deleted by
    // the v3 transaction are recovered by reading ONLY the objects that
    // changed in (2, 3] — one removed, one added — and anti-joining the
    // rewrite from the original by key. O(transaction) bytes, never two
    // snapshots; at 100 TB this is the difference between a downstream
    // consumer tailing commits and it re-diffing the lake.
    "src_time_travel_diff" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "diff")
      val log = TxnLog.readLog(s, logDir)
      val (added, removed) = TxnLog.changedBetween(log, 2L, 3L)
      require(added.size == 1 && removed.size == 1,
        s"v3 should touch exactly one object each way: +$added -$removed")
      s.read.parquet(removed: _*)
        .join(s.read.parquet(added: _*).select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),

    // VACUUM under a retention floor: with retain = v3, the only
    // physically deletable object is the one the delete transaction
    // removed (b2) — the compaction's removals (v4 > retain) must stay
    // because snapshot v3 still references them. After the reclaim the
    // head snapshot is byte-identically readable; TxnLogSpec pins that
    // time travel BELOW the floor now fails at read (the documented
    // public VACUUM contract).
    "src_txn_vacuum" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "vac")
      val cands = TxnLog.vacuumCandidates(TxnLog.readLog(s, logDir), 3L)
      require(cands.size == 1 && cands.head.endsWith("/b2"),
        s"retain=3 should reclaim exactly the deleted bucket, got $cands")
      val deleted = TxnLog.vacuum(s, logDir, 3L)
      require(deleted == cands, s"vacuum deleted $deleted, planned $cands")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 4L))
    }),

    // RESTORE — history-preserving rollback: one appended commit makes
    // the head equal the pre-delete snapshot again. Nothing is
    // rewritten: the restore RE-ADDS the objects the delete and the
    // compaction removed (their files still exist — vacuum never ran)
    // and removes the rewrites added since; the delete, the compaction,
    // and the restore all remain time-travelable history. Required
    // in-path: the restore lands as one new version and the restored
    // head resolves to the original v2 object set. The oracle is the
    // FULL table — the rollback undid the copy-on-write delete.
    "src_txn_restore" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "restore")
      val v = TxnLog.restore(s, logDir, 2L)
      require(v == 5L, s"restore should land at v5, got $v")
      val log = TxnLog.readLog(s, logDir)
      require(TxnLog.liveFiles(log, 5L).toSet ==
        TxnLog.liveFiles(log, 2L).toSet,
        "restored head must resolve to the v2 object set")
      // restoring to the already-current snapshot is a no-op, not a
      // degenerate empty commit
      require(TxnLog.restore(s, logDir, 5L) == 5L)
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 5L))
    }),

    // SHALLOW CLONE — a zero-copy table fork: the clone's v0 references
    // the source snapshot's objects (no data moved), then diverges with
    // its OWN transactions while the source is untouched (required
    // in-path: source head and live set unchanged after the clone's
    // delete). The readout aggregates the diverged clone — the bucket-3
    // slice its own commit removed is gone, while the source would
    // still show it. At 100 TB a shallow clone is how a team forks a
    // production table for an experiment in milliseconds.
    "src_txn_clone" -> ((s, dir) => {
      import graft.sources.TxnLog
      val srcLog = txnLogStage(s, dir, "clonesrc")
      val dstLog = s"${staged("txn_clone_dst")}/_log"
      graft.streaming.StreamGate.deleteRecursively(
        staged("txn_clone_dst"))
      // clone the PRE-delete snapshot (v2: the full table, 4 buckets)
      TxnLog.shallowClone(s, srcLog, 2L, dstLog)
      val cloned = TxnLog.liveFilesAt(s, dstLog, 0L)
      require(cloned.size == 4, s"clone v0 should reference 4 objects")
      // the clone diverges: drop its bucket-3 slice
      val b3 = cloned.filter(_.endsWith("/b3"))
      require(b3.size == 1, s"expected the b3 object, got $cloned")
      TxnLog.commit(s, dstLog, 1L, removes = b3)
      // source untouched by the clone's transaction
      require(TxnLog.latestVersion(s, srcLog) == 4L)
      require(TxnLog.liveFilesAt(s, srcLog, 4L).size == 3)
      txnSnapAgg(TxnLog.readSnapshot(s, dstLog, 1L))
    }),

    // ORPHAN-FILE GC — the other half of storage reclaim: a crashed
    // writer's half-written object is invisible to every snapshot (its
    // commit never published) but occupies storage forever; nothing in
    // vacuum's removed-files contract touches it. vacuumOrphans
    // reconciles the physical directory against the log — the ONE
    // legitimate data-dir listing — deleting objects the log never
    // NAMED that are older than the grace horizon (anything younger is
    // presumed a writer mid-stage, since objects are written BEFORE
    // their commit publishes). Required in-path: the grace window
    // protects the orphan, the expired sweep reclaims exactly it, and
    // the head snapshot is byte-identically readable after. At 100 TB,
    // untracked-file GC is what keeps failed-job debris from costing
    // real money.
    "src_txn_gc" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "gc")
      val root = logDir.stripSuffix("/_log")
      tbl(s, dir, "orders").where(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/orphan")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val now = fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$root/orphan")).getModificationTime
      require(TxnLog.vacuumOrphans(s, root, logDir,
        graceMs = 3600L * 1000, nowMs = now).isEmpty,
        "an object inside the grace window must be presumed in-flight")
      val deleted = TxnLog.vacuumOrphans(s, root, logDir,
        graceMs = 1000L, nowMs = now + 10000L)
      require(deleted.size == 1 && deleted.head.endsWith("/orphan"),
        s"GC should reclaim exactly the orphan: $deleted")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 4L))
    }),

    // COPY-ON-WRITE MERGE (upsert) WITH STATS-TARGETED REWRITE — the
    // Delta-style MERGE INTO over the transaction log: a source batch
    // UPDATES the bucket-1 keys divisible by 97 and INSERTS fresh rows
    // past the key ceiling. The rewrite set is planned from the LOG
    // ALONE: the per-object [min,max] key stats (stamped at write time)
    // prove exactly ONE of the four base objects can contain an updated
    // key, so the merge reads and rewrites that object only — the other
    // three survive untouched (required in-path) — and the inserts land
    // as a pure append. One transaction publishes remove(hit) +
    // add(rewrite, append) atomically; every pre-merge snapshot stays
    // intact. At 100 TB this is the difference between a MERGE that
    // rewrites the table and one that rewrites O(transaction) objects.
    "src_txn_merge" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnMergeStage(s, dir, "merge")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 1L))
    }),

    // CHANGE DATA FEED FROM THE TOUCHED OBJECTS ONLY — the row-level
    // change inventory of the merge transaction, computed WITHOUT
    // diffing two snapshots: `changedBetween` names the objects v1
    // removed/added (one rewrite out, one rewrite + one append in), and
    // the Merkle diff (ops/TableDiff) classifies the rows between just
    // those objects — the untouched bulk (3 of 4 base objects, plus
    // every unmodified row inside the rewrite, whose checksums match
    // bucket-wise) is never row-joined. Emits (key, change) with change
    // in {inserted, modified}; a CoW merge deletes nothing. This is the
    // downstream-consumer shape of the lakehouse: tail the log, read
    // O(transaction) bytes, get exact row-level changes.
    "src_txn_cdf" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnMergeStage(s, dir, "cdf")
      val (added, removed) =
        TxnLog.changedBetween(TxnLog.readLog(s, logDir), 0L, 1L)
      require(added.size == 2 && removed.size == 1,
        s"merge transaction should touch 2+1 objects: +$added -$removed")
      def keyed(paths: Seq[String]): DataFrame =
        s.read.parquet(paths: _*).select(
          col("o_orderkey").as("key"),
          concat_ws("|", col("o_orderstatus"),
            col("o_totalprice").cast("string")).as("val"))
      graft.ops.TableDiff.merkleDiff(keyed(removed), keyed(added))
    }),

    // OPTIMISTIC CONCURRENCY END-TO-END — two writers that both read the
    // same snapshot commit DISJOINT appends concurrently through
    // commitRetry: the publish-race loser re-reads the log, proves the
    // winner's commit touches none of its files (disjoint commits
    // commute), re-stamps, and retries — BOTH transactions land, at
    // consecutive versions, whichever thread wins the race. A third
    // writer whose intent overlaps an intervening commit (it removes an
    // object a post-read transaction added) must fail loudly with a
    // conflict, never silently last-writer-win. The head snapshot then
    // aggregates to the full table — the oracle can't see thread
    // interleaving, which is the point: OCC makes the outcome
    // schedule-independent. This is the multi-writer contract a shared
    // 100 TB table needs (concurrent partition appends commute;
    // conflicting rewrites surface as retryable application errors).
    "src_txn_concurrent" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_occ")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      def obj(part: String, df: DataFrame): String = {
        val d = s"$root/$part"
        df.write.mode("overwrite").parquet(d); d
      }
      val b0 = obj("b0", orders.where(col("o_orderkey") % 3 === 0))
      val w1 = obj("w1", orders.where(col("o_orderkey") % 3 === 1))
      val w2 = obj("w2", orders.where(col("o_orderkey") % 3 === 2))
      TxnLog.commit(s, logDir, 0L, adds = Seq(b0))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(w1, w2).map { o =>
        new Thread(() => {
          barrier.await()
          try landed.add(
            TxnLog.commitRetry(s, logDir, readVersion = 0L, adds = Seq(o)))
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      require(errs.isEmpty, s"concurrent disjoint appends failed: $errs")
      val vs = { val it = landed.iterator(); Set(it.next(), it.next()) }
      require(vs == Set(1L, 2L),
        s"both disjoint commits must land at consecutive versions: $vs")
      // the overlapping intent: a stale reader (v0) removing an object a
      // post-read commit added is a write-write conflict, loudly
      val conflicted =
        try {
          TxnLog.commitRetry(s, logDir, readVersion = 0L,
            adds = Nil, removes = Seq(w1)); false
        } catch { case _: TxnLog.CommitConflictException => true }
      require(conflicted, "overlapping commit must conflict, not land")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 2L))
    }),

    // THE FULL LAKEHOUSE READ PATH — TxnLog + z-order + file-level stats
    // IN THE LOG: each ingest batch is z-order-clustered at write time
    // over (price, order-day), and the per-file [min,max] of BOTH
    // cluster dims is computed once, on the freshly written batch, and
    // carried as commit-action stats. The reader plans the scan from
    // log metadata ALONE (one checkpoint + tail — liveActionsAt), prunes
    // whole files on both dimensions, and opens zero data files beyond
    // the survivors; the exact predicate re-applies on them, so skipping
    // never changes the answer. Unlike src_manifest_prune /
    // src_zorder_prune (which rebuild their zone maps by scanning data
    // each run), the stats here are written once and served forever from
    // O(files) metadata — at 100 TB that is the difference between a
    // planning scan of the lake and a millisecond log read.
    "src_txn_skipping" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_skip")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      // same fixed-span quantization as src_zorder_prune: 1992-01-01
      // epoch over the full 2405-day TPC-H order-date range
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long")
      val pq = least(floor(col("o_totalprice") * 65535.0 / 600000.0)
        .cast("long"), lit(65535L))
      val dq = least(greatest(floor(day * 65535.0 / 2405.0).cast("long"),
        lit(0L)), lit(65535L))
      val zcol = graft.functions.GraftFunctions.zorder(pq, dq)
      def ingest(version: Long, batch: DataFrame): Unit = {
        val out = s"$root/batch_$version"
        batch.repartitionByRange(8, zcol).sortWithinPartitions(zcol)
          .write.mode("overwrite").parquet(out)
        // the write-time stats pass: one scan of the batch JUST written
        // (never of the table), stats stamped into the commit actions
        val st = s.read.parquet(out)
          .groupBy(input_file_name().as("f"))
          .agg(min(day).as("dlo"), max(day).as("dhi"),
            min(col("o_totalprice")).as("plo"),
            max(col("o_totalprice")).as("phi"))
          .collect()
          .map(r => r.getString(0) ->
            s"${r.getLong(1)},${r.getLong(2)},${r.getDouble(3)},${r.getDouble(4)}")
        TxnLog.commit(s, logDir, version, adds = st.map(_._1).toSeq,
          stats = st.toMap, checkpointEvery = 1)
      }
      ingest(0L, o.where(col("o_orderkey") % 2 === 0))
      ingest(1L, o.where(col("o_orderkey") % 2 === 1))
      // metadata-only planning: the head snapshot's add actions (served
      // through the v1 checkpoint) carry everything the pruner needs
      val live = TxnLog.liveActionsAt(s, logDir, 1L)
      require(live.forall(_.stats.isDefined), "an add action lost its stats")
      val (dLo, dHi) = (1827L, 2007L) // 1997-01-01 .. 1997-06-30
      val (pLo, pHi) = (100000.0, 250000.0)
      val picked = live.filter { a =>
        val Array(flo, fhi, plo, phi) = a.stats.get.split(',')
        flo.toLong <= dHi && fhi.toLong >= dLo &&
          plo.toDouble <= pHi && phi.toDouble >= pLo
      }.map(_.path)
      require(picked.size <= live.size / 2,
        s"log-stats pruning too weak: ${picked.size} of ${live.size} files")
      require(picked.nonEmpty,
        s"empty survivor set — the 1997H1 mid-price band must be populated")
      s.read.parquet(picked: _*)
        .where(col("o_orderdate") >= lit("1997-01-01")
          && col("o_orderdate") < lit("1997-07-01")
          && col("o_totalprice") >= pLo && col("o_totalprice") <= pHi)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("tot"))
    }),

    // SCHEMA IN THE TRANSACTION LOG — the metadata half of a real table
    // format (the public Delta metaData design): the table schema is a
    // `meta` action in the log, adds that disagree with it are REJECTED
    // at commit (required in-path below), and evolution is
    // widening/add-nullable-column only. v0 declares a 2-column schema
    // and lands gen-1 objects; v1 evolves to 3 columns (appends a
    // nullable price) and lands a gen-2 object; v2 lands another gen-2
    // object and crosses a checkpoint boundary, so the HEAD read
    // resolves schema + live set from ONE checkpoint (required in-path).
    // The snapshot read pins the log schema — gen-1 files serve null for
    // the appended column — so the scan needs no footer-sampling schema
    // inference: at 100 TB, schema-from-metadata is the difference
    // between a millisecond log read and a planning pass over the lake.
    "src_txn_schema_evolution" -> ((s, dir) => {
      import graft.sources.TxnLog
      import org.apache.spark.sql.types._
      val root = staged("txn_schema")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val s1 = StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType)))
      val s2 = s1.add(StructField("o_totalprice", DoubleType,
        nullable = true))
      val orders = tbl(s, dir, "orders")
      def obj(part: String, df: DataFrame): String = {
        val d = s"$root/$part"
        df.write.mode("overwrite").parquet(d); d
      }
      // gen-1: the 2-column generation (keys % 3 == 0)
      val g1 = obj("g1", orders.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus")))
      TxnLog.commit(s, logDir, 0L, adds = Seq(g1), meta = Some(s1.json),
        addsSchema = Some(s1.json), checkpointEvery = 2)
      // enforcement: an add carrying a different column set is rejected
      // BEFORE any file becomes visible
      val rejected =
        try {
          TxnLog.commit(s, logDir, 1L, adds = Seq(s"$root/rogue"),
            addsSchema = Some(StructType(Seq(
              StructField("o_orderkey", LongType),
              StructField("wrong_col", StringType))).json))
          false
        } catch { case _: IllegalArgumentException => true }
      require(rejected, "mismatched-schema add must be rejected loudly")
      // and so is a non-evolution (column drop) schema change
      val rejectedDrop =
        try {
          TxnLog.commit(s, logDir, 1L, meta = Some(StructType(Seq(
            StructField("o_orderkey", LongType))).json))
          false
        } catch { case _: IllegalArgumentException => true }
      require(rejectedDrop, "column-drop evolution must be rejected loudly")
      // v1: legal evolution (append nullable price) + gen-2 data
      val g2a = obj("g2a", orders.where(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))
      TxnLog.commit(s, logDir, 1L, adds = Seq(g2a), meta = Some(s2.json),
        addsSchema = Some(s2.json), checkpointEvery = 2)
      // v2: more gen-2 data; crosses the checkpoint boundary
      val g2b = obj("g2b", orders.where(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))
      TxnLog.commit(s, logDir, 2L, adds = Seq(g2b),
        addsSchema = Some(s2.json), checkpointEvery = 2)
      // the head read must resolve THROUGH the v2 checkpoint and carry
      // the evolved schema from metadata
      require(TxnLog.lastCheckpointAtOrBefore(s, logDir, 2L)
        .contains(2L), "head resolution must be checkpoint-served")
      require(TxnLog.schemaAtVersion(s, logDir, 2L).contains(s2.json),
        "checkpoint must carry the evolved schema")
      require(TxnLog.schemaAtVersion(s, logDir, 0L).contains(s1.json),
        "time travel must serve the pre-evolution schema")
      val snap = TxnLog.readSnapshot(s, logDir, 2L)
      require(snap.schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        s"snapshot must read under the log schema: ${snap.schema}")
      snap.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(when(col("o_totalprice").isNull, 1)).as("n_gen1"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("tot"))
    }),

    // CHECKPOINT LIFECYCLE — the metadata half of storage reclaim: a
    // table checkpointing every N commits accumulates O(commits/N)
    // checkpoint files forever; one maintenance pass (vacuum +
    // keepCheckpoints) reclaims the dead data objects AND the stale
    // checkpoints, keeping the newest K and ALWAYS the
    // `_last_checkpoint` target. A checkpoint is a pure shortcut, never
    // state, so the pass is content-invisible: required in-path — only
    // the newest checkpoint survives, the pointer still resolves, head
    // resolution goes through the kept checkpoint, and metadata-level
    // time travel BELOW the reclaimed checkpoint still equals the full
    // replay (commit files intact). The head aggregate the oracle
    // checks must be byte-identical to the pre-GC snapshot.
    "src_txn_checkpoint_gc" -> ((s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "ckptgc") // checkpoints at v2, v4
      val before = TxnLog.liveFilesAt(s, logDir, 2L)
      val deleted = TxnLog.vacuum(s, logDir, retain = 4L,
        keepCheckpoints = 1)
      require(deleted.nonEmpty, "the staged history has dead objects")
      val f = new org.apache.hadoop.fs.Path(logDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val ckpts = f.listStatus(new org.apache.hadoop.fs.Path(logDir))
        .map(_.getPath.getName).filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint").toLong).sorted.toSeq
      require(ckpts == Seq(4L),
        s"GC must keep exactly the newest checkpoint: $ckpts")
      require(TxnLog.lastCheckpointAtOrBefore(s, logDir, 4L)
        .contains(4L), "the pointer must survive GC and resolve")
      // metadata-level time travel below the reclaimed checkpoint still
      // equals full replay (the checkpoint was a shortcut, not state)
      require(TxnLog.liveFilesAt(s, logDir, 2L) == before,
        "resolution below the GC'd checkpoint must be unchanged")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 4L))
    }),

    // MERGE-ON-READ DELETE (deletion vectors) — the public Delta/
    // Iceberg-v2 answer to high-churn tables, where the copy-on-write
    // MERGE (src_txn_merge) rewrites a whole object per delete: a
    // delete commit re-adds the SAME object carrying a
    // `<leaf>:<rowIndex>` position vector (remove + re-add render
    // atomically in one commit), the object's BYTES stay untouched on
    // disk (fingerprint-require'd in-path — that is the entire point),
    // and the snapshot read subtracts the vector by a broadcast
    // anti-join on (part-file leaf, _metadata.row_index) — a plain
    // distributed scan plus O(|DV|) broadcast metadata. A second
    // delete UNIONS into the vector; compaction then folds the vector
    // into a rewritten object and retires it (content no-op,
    // require'd). At 100 TB this is the difference between a delete
    // costing O(deleted rows) metadata and O(object) rewrite I/O.
    "src_txn_dv_delete" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_dv")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      def obj(part: String, df: DataFrame): String = {
        val d = s"$root/$part"
        df.write.mode("overwrite").parquet(d); d
      }
      val even = obj("even", orders.where(col("o_orderkey") % 2 === 0))
      val odd = obj("odd", orders.where(col("o_orderkey") % 2 === 1))
      TxnLog.commit(s, logDir, 0L, adds = Seq(even, odd))
      def fingerprint(dir: String): Seq[(String, Long, Long)] = {
        val f = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
          .map(st =>
            (st.getPath.getName, st.getLen, st.getModificationTime))
          .sortBy(_._1)
      }
      val before = fingerprint(even)
      // v1: row-level delete (keys % 97 == 0) — no rewrite
      val dv1 = TxnLog.planDvDelete(s, even, col("o_orderkey") % 97 === 0)
      TxnLog.commit(s, logDir, 1L, adds = Seq(even),
        removes = Seq(even), dvs = Map(even -> dv1))
      // v2: a second delete UNIONS into the vector (keys % 101 == 0)
      val dv2 = TxnLog.planDvDelete(s, even,
        col("o_orderkey") % 101 === 0, existing = Some(dv1))
      TxnLog.commit(s, logDir, 2L, adds = Seq(even),
        removes = Seq(even), dvs = Map(even -> dv2))
      require(fingerprint(even) == before,
        "a merge-on-read delete must not touch the object's bytes")
      // liveness-net CDC sees nothing; the DV half names the object
      val log = TxnLog.readLog(s, logDir)
      require(TxnLog.changedBetween(log, 0L, 2L) ==
        (Seq.empty[String], Seq.empty[String]),
        "a DV swap must be liveness-neutral")
      require(TxnLog.dvChangedBetween(log, 0L, 2L).map(_._1) == Seq(even),
        "dvChangedBetween must name exactly the DV'd object")
      // v3: compaction folds the vector into a rewrite and retires it
      val compacted = obj("even_compact",
        TxnLog.readSnapshot(s, logDir, 2L)
          .where(col("o_orderkey") % 2 === 0))
      TxnLog.commit(s, logDir, 3L, adds = Seq(compacted),
        removes = Seq(even))
      require(TxnLog.liveActionsAt(s, logDir, 3L).forall(_.dv.isEmpty),
        "compaction must retire the deletion vector")
      val v2Agg = txnSnapAgg(TxnLog.readSnapshot(s, logDir, 2L))
      val v3Agg = txnSnapAgg(TxnLog.readSnapshot(s, logDir, 3L))
      require(v2Agg.except(v3Agg).isEmpty && v3Agg.except(v2Agg).isEmpty,
        "DV-fold compaction must be a content no-op")
      v3Agg
    }),

    // DV-AWARE CHANGE FEED — the row-level half of CDC a merge-on-read
    // delete needs: the delete commit is liveness-NEUTRAL (remove +
    // re-add of the same path nets to zero, so the add/remove change
    // feed reports nothing), yet rows changed. The consumer reads
    // dvChangedBetween's (path, before, after), takes the position
    // delta `after \ before`, and serves the DELETED rows from the
    // UNTOUCHED object by a broadcast semi-join on
    // (leaf, _metadata.row_index) — O(transaction) consumption, no
    // snapshot diff, the same discipline as the add/remove feed.
    "src_txn_dv_cdf" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_dv_cdf")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      def obj(part: String, df: DataFrame): String = {
        val d = s"$root/$part"
        df.write.mode("overwrite").parquet(d); d
      }
      val even = obj("even", orders.where(col("o_orderkey") % 2 === 0))
      val odd = obj("odd", orders.where(col("o_orderkey") % 2 === 1))
      TxnLog.commit(s, logDir, 0L, adds = Seq(even, odd))
      val dv = TxnLog.planDvDelete(s, even, col("o_orderkey") % 97 === 0)
      TxnLog.commit(s, logDir, 1L, adds = Seq(even),
        removes = Seq(even), dvs = Map(even -> dv))
      val changes = TxnLog.dvChangedBetween(
        TxnLog.readLog(s, logDir), 0L, 1L)
      require(changes.map(_._1) == Seq(even),
        "the delete must surface on the DV change feed")
      val (path, beforeDv, afterDv) = changes.head
      val newPositions = TxnLog.dvEntries(afterDv.get)
        .diff(beforeDv.map(TxnLog.dvEntries).getOrElse(Nil))
      require(newPositions.nonEmpty, "the delta must name positions")
      import s.implicits._
      val posDf = newPositions.toDF("__leaf", "__pos")
      s.read.parquet(path)
        .withColumn("__leaf",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(broadcast(posDf), Seq("__leaf", "__pos"), "left_semi")
        .select(col("o_orderkey").as("key"),
          lit("deleted").as("change"))
    }),

    // COLUMN MAPPING — rename without rewrite (the public Delta
    // column-mapping design): the `meta` schema's fields carry a
    // physical-name key, so a RENAME is one metadata commit and files
    // from BOTH generations (written before and after it, all carrying
    // the PHYSICAL name) read through the single logical schema;
    // DROP is equally metadata-only once every column is explicitly
    // mapped. Required in-path: a rename expressed WITHOUT mapping is
    // rejected as the rewrite it would be, time travel serves the
    // pre-rename logical names, the post-drop head reads through a
    // checkpoint, and the dropped column is gone from the read schema
    // while every row survives. At 100 TB: ALTER TABLE RENAME/DROP
    // COLUMN in milliseconds of metadata instead of a lake rewrite.
    "src_txn_column_rename" -> ((s, dir) => {
      import graft.sources.TxnLog
      import org.apache.spark.sql.types._
      val root = staged("txn_colmap")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      def mapped(name: String, phys: String, dt: DataType): StructField =
        StructField(name, dt, nullable = true,
          new MetadataBuilder().putString("graft.phys", phys).build())
      val s1 = StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      val orders = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      def obj(part: String, df: DataFrame): String = {
        val d = s"$root/$part"
        df.write.mode("overwrite").parquet(d); d
      }
      // gen-1 under the original names
      val g1 = obj("g1", orders.where(col("o_orderkey") % 2 === 0))
      TxnLog.commit(s, logDir, 0L, adds = Seq(g1), meta = Some(s1.json),
        addsSchema = Some(s1.json), checkpointEvery = 2)
      // a rename expressed WITHOUT mapping is a drop+add -> rejected
      val rejected =
        try {
          TxnLog.commit(s, logDir, 1L, meta = Some(StructType(Seq(
            StructField("o_orderkey", LongType),
            StructField("o_orderstatus", StringType),
            StructField("price", DoubleType))).json))
          false
        } catch { case _: IllegalArgumentException => true }
      require(rejected, "an unmapped rename must be rejected loudly")
      // v1: the REAL rename — `price` keeps phys=o_totalprice; gen-2
      // files still write the PHYSICAL name, so their file schema is s1
      val s2 = StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        mapped("price", "o_totalprice", DoubleType)))
      val g2 = obj("g2", orders.where(col("o_orderkey") % 2 === 1))
      TxnLog.commit(s, logDir, 1L, adds = Seq(g2), meta = Some(s2.json),
        addsSchema = Some(s1.json), checkpointEvery = 2)
      require(TxnLog.readSnapshot(s, logDir, 1L).schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "price"),
        "both generations must read through the renamed logical schema")
      require(TxnLog.readSnapshot(s, logDir, 0L).schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        "time travel must serve the pre-rename logical names")
      // v2: DROP o_orderstatus — legal once every column is mapped;
      // lands ON the checkpoint boundary, so the head read resolves
      // schema + live set from ONE checkpoint
      val s3 = StructType(Seq(mapped("o_orderkey", "o_orderkey", LongType),
        mapped("price", "o_totalprice", DoubleType)))
      TxnLog.commit(s, logDir, 2L, meta = Some(s3.json),
        checkpointEvery = 2)
      require(TxnLog.lastCheckpointAtOrBefore(s, logDir, 2L)
        .contains(2L), "head resolution must be checkpoint-served")
      val head = TxnLog.readSnapshot(s, logDir, 2L)
      require(head.schema.fieldNames.toSeq == Seq("o_orderkey", "price"),
        s"the dropped column must be gone from the read: ${head.schema}")
      head.groupBy((col("o_orderkey") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)"))
            .cast("double").as("tot"))
    }),

    // P1: Java-split parity — field arity per line
    "p1_java_split_arity" -> ((s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        size(NaiveCsv.javaSplit(col("line"))).cast("long").as("n_fields"))),

    // P2: last-field extraction + trim
    "p2_last_field" -> ((s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        NaiveCsv.lastField(NaiveCsv.javaSplit(col("line"))).as("ticker"))),

    // P3: headline reconstruction (slice + re-join on ",")
    "p3_headline_rejoin" -> ((s, dir) =>
      docLines(s, dir).select(col("doc_id"),
        NaiveCsv.headline(NaiveCsv.javaSplit(col("line"))).as("headline"))),

    // F1: row-arity filter feeding an aggregate
    "f1_arity_filter" -> ((s, dir) =>
      docLines(s, dir)
        .where(NaiveCsv.arityAtLeast(NaiveCsv.javaSplit(col("line")), 4))
        .groupBy("lang").agg(count(lit(1)).as("cnt"))),

    // T1+T2: case fold + punctuation scrub
    "t1_t2_scrub" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.scrub(col("text")).as("scrubbed"))),

    // T3+F3: tokenize + explode (generator), empty-token filter, count
    "t3_token_counts" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextOps.tokenize(TextOps.scrub(col("text"))))
          .as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("cnt"))),

    // F2: stop-word filter (InSet ≙ broadcast anti-join)
    "f2_stopword_filter" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(TextOps.tokenize(TextOps.scrub(col("text"))))
          .as("token"))
        .where(TextOps.keepToken(col("token")))
        .groupBy("token").agg(count(lit(1)).as("cnt"))),

    // A1: count-per-key aggregation (partial+final hash agg)
    "a1_count_by_key" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))),

    // O1+O2: global sort by count desc + row_number rank
    "o1_o2_rank_events" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      Rank.ranked(counts, col("cnt"), Seq(col("event_type")))
        .select(col("rank"), col("event_type"), col("cnt"))
    }),

    // Full StockCount pipeline (P1+F1+P2+A1+O1+O2)
    "stock_count_pipeline" -> ((s, dir) =>
      StockCount.fromLines(docLines(s, dir).select(col("line").as("value")))),

    // Full WordCount pipeline (P1+P3+T1..T3+F2+F3+A1+O1..O3, top-100)
    "word_count_pipeline" -> ((s, dir) =>
      WordCount.fromLines(docLines(s, dir).select(col("line").as("value")))),

    // S3 byte parity: the exact "<rank>: <ticker>, <count>" output lines
    // the reference's reducer writes (StockCount.java:63-64)
    "stock_count_formatted" -> ((s, dir) =>
      StockCount.formatted(StockCount.fromLines(
        docLines(s, dir).select(col("line").as("value"))))),

    // S3 byte parity: "<rank>: <word>\t<count>" (WordCount.java:91 +
    // TextOutputFormat's K\tV separator)
    "word_count_formatted" -> ((s, dir) =>
      WordCount.formatted(WordCount.fromLines(
        docLines(s, dir).select(col("line").as("value"))))),

    // ---- streaming (real Structured Streaming engine via StreamGate) -----
    // Each entry replays the events/documents tables through a MemoryStream
    // micro-batch, runs the EventStream operator on the streaming engine
    // (state store, watermarks, incremental agg), and returns the sink —
    // checked against the equivalent batch oracle like every other query.

    // Tumbling 1h event-time windows + watermark; complete-mode final state
    // must equal the batch hourly aggregation. Staged parquet -> the
    // engine's FILE source: executors write and read the stream, the
    // driver only names the directory — no .collect() anywhere.
    "stream_windowed_counts" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"), col("event_type")),
        "gate_win_counts", "complete")(df =>
        graft.streaming.EventStream.windowedCounts(
          df, "ts", "event_type", window = "1 hour"))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt"))),

    // Same windowed aggregation through a genuinely DIFFERENT source path:
    // a CSV text source with an explicit user schema (typed parsing +
    // schema enforcement, which the self-describing parquet source skips)
    // replayed one-file-per-trigger over 3 staged files — so the stateful
    // aggregation is updated INCREMENTALLY across 3 micro-batches instead
    // of draining into batch 0. File-to-batch order is arbitrary, so the
    // lateness covers the whole event-time span (no watermark late-drops;
    // in complete mode the state is retained regardless).
    "stream_windowed_counts_file" -> ((s, dir) => {
      val src = graft.streaming.StreamGate.scratchDir("stage", "win_counts_file")
      events(s, dir)
        .select(unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      // the replay drains the staged files into the memory sink before
      // returning, so the directory can be removed immediately — waiting
      // for JVM exit (deleteOnExit) would leak it: non-empty dirs are
      // never deleted that way
      try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts_us",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType))),
        "gate_win_counts_file", "complete")(df =>
        graft.streaming.EventStream.windowedCounts(
          df.select(timestamp_micros(col("ts_us")).as("ts"),
            col("event_type")),
          "ts", "event_type", window = "1 hour", lateness = "3650 days"))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt"))
      finally graft.streaming.StreamGate.deleteRecursively(src)
    }),

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
    "stream_heavy_hitters" -> ((s, dir) => {
      val k = 150L; val shards = 4; val cap = 64
      val ev = events(s, dir).select(col("user_id").cast("long").as("k"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "hh")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))),
          "gate_hh", "update")(df =>
          graft.streaming.EventStream.heavyHitterCandidates(
            df, "k", shards, cap))
        finally graft.streaming.StreamGate.deleteRecursively(src)
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
      ev.where(col("k").isin(candidates: _*))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") * k > n)
        .select(col("k").as("user_id"), col("cnt"))
    }),

    // STREAMING OHLC BARS — rel_ohlc_bars as an incremental windowed
    // aggregation: open/close fold as struct arg-extrema in the state
    // store (a few scalars per open bar regardless of throughput);
    // complete-mode replay, result must equal the batch rollup.
    "stream_ohlc" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          round(col("value") * 1000).cast("long").as("v"),
          col("event_type")).where(col("v").isNotNull),
        "gate_ohlc", "complete")(df =>
        graft.streaming.EventStream.windowedOhlc(df))
        .select(unix_micros(col("win_start")).as("bar"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"), col("n"))),

    // STREAMING EXACT DISTINCT — per-(event_type, 2^15-user-bucket)
    // bitmaps in mapGroupsWithState: 4 KB of state forever per occupied
    // bucket regardless of row count (streaming dropDuplicates keeps a
    // state row PER DISTINCT USER; HLL surrenders exactness). Bitmap OR
    // is commutative AND idempotent, so the unordered multi-batch replay
    // — including re-delivered rows — provably equals the batch answer.
    // The unbounded-stream twin of rel_bitmap_distinct.
    "stream_bitmap_distinct" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir).select(col("event_type"), col("user_id"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "bmdist")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType))),
          "gate_bmdist", "update")(df =>
          graft.streaming.EventStream.bitmapDistinct(
            df.toDF("_1", "_2").as[(String, Long)]).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
      sink.groupBy(col("key"), col("bucket"))
        .agg(max(struct(col("ver"), col("distinct"))).as("m"))
        .groupBy(col("key").as("event_type"))
        .agg(sum(col("m.distinct")).as("n_users"))
    }),

    // STREAMING COVARIANCE "train" — the unbounded-stream twin of
    // emb_covariance: per-shard flat moment buffers in
    // mapGroupsWithState (~17 KB × shards of state FOREVER), commutative
    // sums so the unordered multi-batch CSV replay equals the batch
    // moments; the final read keeps each shard's max-version snapshot
    // and merges the model-sized buffers into the covariance (the
    // partial → final shape). Oracle = the batch covariance SQL.
    "stream_covariance" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "embeddings").select(col("vec_id"),
        // float -> shortest-round-trip string -> float is exact, so the
        // CSV gate cannot perturb the vectors
        concat_ws(";", col("embedding").cast("array<string>")).as("emb"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "momsum")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("emb",
              org.apache.spark.sql.types.StringType))),
          "gate_momsum", "update")(df =>
          graft.streaming.EventStream.momentSumsStream(
            df.select(col("vec_id"),
              split(col("emb"), ";").cast("array<float>").as("v"))
              .as[(Long, Seq[Float])]).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
      val bufs = sink.groupBy(col("shard"))
        .agg(max(struct(col("ver"), col("buf"))).as("m"))
        .select(col("m.buf")).as[Seq[Double]].collect() // shards, model-sized
      val flat = bufs.filter(_.nonEmpty).map(_.toArray)
        .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      val (n, sm, o) = graft.ops.Pca.parseMoments(flat)
      graft.ops.Pca.covarianceRows(s, graft.ops.Pca.covariance(n, sm, o))
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"))
    }),

    // STREAMING FIRST-TOUCH FUNNEL — per-user earliest signup/view/
    // purchase instants as mapGroupsWithState state: a few longs per user
    // FOREVER. Every state field is a min or a count — COMMUTATIVE — so
    // the unordered multi-batch replay provably equals the batch answer
    // (the oracle). The funnel semantics are first-touch: step k+1
    // counts iff its FIRST instant is strictly after step k's FIRST
    // instant — the bounded-state funnel (a strict any-interleaving
    // funnel would need every step-k+1 timestamp retained; see
    // EventStream.firstTouchFunnel). Final snapshot = max version.
    "stream_funnel_touch" -> ((s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .where(col("event_type").isin("signup", "view", "purchase"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t_us"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "funnel")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("t_us",
              org.apache.spark.sql.types.LongType))),
          "gate_funnel", "update")(df =>
          graft.streaming.EventStream.firstTouchFunnel(
            df.toDF("_1", "_2", "_3").as[(Long, String, Long)]).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
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
    }),

    // STREAMING POINT-IN-TIME ENRICHMENT — the purchase stream joins the
    // STATIC SCD2 dimension version effective at each event's instant
    // (stream-static left join, re-planned per micro-batch): the serving
    // twin of rel_scd2_pit, and the train-serve-consistency contract is
    // literally the oracle — the streamed result must equal the batch
    // PIT join row-for-row. Dimension broadcast per batch; no state.
    "stream_scd2_enrich" -> ((s, dir) => {
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
    }),

    // Streaming top-K: complete-mode aggregation + ORDER BY + LIMIT —
    // the sorted-sink shape Structured Streaming only permits in complete
    // mode (every trigger re-emits the whole ranked table; at scale the
    // sink holds K rows, the state one row per key). Tie-broken on the
    // key so the cut is deterministic.
    "stream_topk_types" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("event_type")),
        "gate_topk_types", "complete")(df =>
        df.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("event_type").asc)
          .limit(3))),

    // Sliding 1h windows every 15 min: each event lands in 4 windows
    "stream_sliding_counts" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("ts"), col("event_type")),
        "gate_slide_counts", "complete")(df =>
        graft.streaming.EventStream.slidingCounts(
          df, "ts", "event_type", window = "1 hour", slide = "15 minutes"))
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("cnt"))),

    // Incremental WordCount (streaming aggregation over exploded tokens)
    "stream_wordcount" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        tbl(s, dir, "documents").select(col("text").as("value")),
        "gate_wc", "complete")(df =>
        graft.streaming.EventStream.streamingWordCount(df))),

    // Streaming exact dedup (dropDuplicatesWithinWatermark): first arrival
    // per key emitted once — key set must equal the batch DISTINCT
    "stream_dedup_keys" -> ((s, dir) =>
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_type"), col("ts")),
        "gate_dedup", "append")(df =>
        graft.streaming.EventStream.dedupStream(
          df, Seq("user_id", "event_type")))
        .select(col("user_id"), col("event_type"))),

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
    "stream_dedup_against_corpus" -> ((s, dir) => {
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
    }),

    // Custom state via mapGroupsWithState: per-user running event counts
    // (one micro-batch => one open-session update per user)
    "stream_session_counts" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_id")),
        "gate_sessions", "update")(
        df => graft.streaming.EventStream
          .runningSessions(df.toDF("_1", "_2").as[(Long, Long)],
            timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .toDF())
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"))
    }),

    // Custom 0..n-rows-per-group state via flatMapGroupsWithState: emit
    // every session CLOSED by an event-time gap (> 30 min), keep the open
    // tail in state — the oracle sessionizes in batch SQL and drops each
    // user's last (still-open) session
    "stream_closed_sessions" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), unix_micros(col("ts")).as("t_us")),
        "gate_closed_sessions", "append")(df =>
        graft.streaming.EventStream.closedSessions(
          df.toDF("_1", "_2").as[(Long, Long)]).toDF())
        .select(col("userId").as("user_id"), col("startUs").as("start_us"),
          col("endUs").as("end_us"), col("nEvents").as("n_events"))
    }),

    // Stream-stream interval join: purchases attributed to same-user views
    // in the prior 30 min, through TWO distributed file sources — both
    // sides staged as parquet and read back by the engine's file source
    // on the executors, no driver collect anywhere. Inner-join rows are
    // emitted in the micro-batch where they match, so the whole replay is
    // ONE micro-batch (see StreamGate.replayJoinFileSource).
    "stream_join_attrib" -> ((s, dir) => {
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
    }),

    // Stream-stream LEFT OUTER interval join: every view with its
    // following-30-min purchases, null-padded views emitted only once the
    // watermark proves no match can arrive. Far-future sentinel rows
    // (user -1, year 2100 — data-independent) ride the data batch so the
    // post-batch watermark flushes the unmatched state; they are filtered
    // out of the output (see StreamGate.replayJoinFileSource).
    "stream_join_left_outer" -> ((s, dir) => {
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
    }),

    // Stream-static enrichment: the event stream joined per-micro-batch to
    // a broadcast static dimension (the canonical lookup/enrich shape —
    // stateless, so no watermark or state store is involved)
    "stream_static_enrich" -> ((s, dir) => {
      val dim = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.streaming.StreamGate.stageAndReplay(s,
        events(s, dir).select(col("user_id"), col("event_type")),
        "gate_enrich", "append")(
        df => df
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("user_id"), col("event_type"), col("c_mktsegment")))
    }),

    // ---- relational generality (beyond the reference's surface) ----------

    // TPC-H Q1-style multi-aggregate: decimal sums (exact, order-independent)
    "rel_q1_lineitem_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"),
          sum(col("l_discount").cast("decimal(18,4)"))
            .cast("decimal(18,4)").cast("double").as("sum_disc"),
          count(lit(1)).as("cnt"))),

    // Broadcast hash join: small dim (customer) explicitly broadcast
    "rel_join_broadcast" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"))),

    // CHUNKED INTERVAL JOIN — the scalable shape for fact-fact overlap
    // joins. rel_range_join's BroadcastNestedLoopJoin is right when one
    // side fits a broadcast; when BOTH sides are fact-sized the nested
    // loop is O(n*m) and unshardable. Standard fix: quantize intervals
    // to fixed chunks (1 hour here), EXPLODE each interval to the chunks
    // it covers (bounded fan-out — a day-bounded span is <= 24 chunks),
    // tag each probe row with its single chunk, equi-join ON THE CHUNK
    // (hash-partitioned, fully parallel), then refine with the exact
    // range predicate. A probe's chunk is unique, so no pair dedup is
    // needed. Chunking is invisible in the answer — the oracle is the
    // plain overlap join. Semantics: per event, how many OTHER users had
    // an active same-day span covering that instant.
    // FACT-FACT INTERVAL COVER COUNT by SWEEP LINE — for every event,
    // how many OTHER users' daily activity spans cover its instant.
    // Round 11 first shipped this as the chunked interval equi-join
    // (hour-bucket key + range residual — the right plan when the
    // OUTPUT is pair-shaped); the scale ladder then measured the trap:
    // with 10× events in the SAME time span, per-chunk density grows
    // 10× on both sides and the join enumerates 100× the pairs
    // (2.2 s → 149 s, 66×, for a 10× rung). The output here is a COUNT,
    // so the pairs never need to exist: merge span boundaries (±1
    // deltas) with the probe events into one total (t, ord) order and
    // take a running sum — the GlobalScan distributed prefix sum, the
    // same sweep as rel_peak_concurrency. O((n+m) log) always, linear
    // in DENSITY where the chunk join is quadratic; re-measured 1.7 s
    // at the rung that broke the join. Boundary semantics preserved
    // exactly by the ord column (+1 at st sorts before probes at the
    // same instant, -1 at en sorts after), and a user's own span always
    // covers their event, so n_concurrent = active - 1.
    "rel_interval_cover_count" -> ((s, dir) => {
      val e = events(s, dir)
      val spans = e.groupBy(col("user_id"),
          date_trunc("day", col("ts")).as("d"))
        .agg(unix_micros(min(col("ts"))).as("st"),
          unix_micros(max(col("ts"))).as("en"))
      val deltas = spans
        .select(col("st").as("t"), lit(0).as("ord"), lit(1L).as("delta"),
          lit(null).cast("long").as("event_id"))
        .unionByName(spans.select(col("en").as("t"), lit(2).as("ord"),
          lit(-1L).as("delta"), lit(null).cast("long").as("event_id")))
      val probes = e.select(unix_micros(col("ts")).as("t"),
        lit(1).as("ord"), lit(0L).as("delta"), col("event_id"))
      deltas.unionByName(probes)
        .withColumn("active", sum(col("delta")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("ord"), col("event_id"))
            .rowsBetween(org.apache.spark.sql.expressions
              .Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .where(col("event_id").isNotNull && col("active") > 1)
        .select(col("event_id"), (col("active") - 1).as("n_concurrent"))
    }),

    // DYNAMIC partition pruning: the fact side is laid out partitioned by
    // event_type (the staged write below stands in for how a 100 TB event
    // log is stored); the dim side keeps only "high-traffic" types — the
    // types carrying > 20.05% of all events (exact integer cross-multiply,
    // no float threshold). That predicate depends on corpus COUNTS, not on
    // the key value itself, so constraint propagation cannot turn it into
    // a static partition filter on the fact scan — only RUNTIME pruning
    // can skip fact partitions. Spark plans a DynamicPruningExpression
    // (reusing the dim broadcast) inside the fact scan's PartitionFilters;
    // at 100 TB that is the difference between scanning every partition
    // and scanning the few the dim filter selects. Pinned in PlanAuditSpec
    // together with the post-run partitions-read metric.
    "rel_dpp_prune" -> ((s, dir) => {
      val out = staged("dpp_events")
      events(s, dir).select(col("event_id"), col("user_id"),
          round(col("value") * 1000).cast("long").as("v"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      // the corpus total collapses to ONE driver scalar (bounded model
      // state, same class as the k-means seed collects) — folding it in
      // as a literal keeps the threshold a Filter NODE over the dim
      // aggregate. Expressed as a cross join instead, the optimizer
      // rewrites the predicate into the join condition, and the
      // PartitionPruning rule (which looks for a selective Filter on the
      // dim side) no longer fires.
      val total = events(s, dir).count()
      val dim = events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
        .where(col("n_type") * lit(10000L) > lit(total * 2005L))
        .select(col("event_type"), col("n_type"))
      s.read.parquet(out)
        .join(broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_total"))
    }),

    // 3-way dimension join chain
    "rel_join_3way" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_bal"))),

    // Left outer join preserving unmatched dimension rows
    "rel_join_left_outer" -> ((s, dir) =>
      tbl(s, dir, "nation")
        .join(tbl(s, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_supp"))),

    // Full outer join: per-nation supplier counts vs customer counts over
    // DISJOINTLY-FILTERED key ranges, so all three match classes appear
    // (left-only, both, right-only) and the null-padding on each side is
    // actually exercised. Aggregate-then-join: both inputs shrink to key
    // cardinality before the join, so at scale the join is over tiny
    // relations regardless of fact-table size.
    "rel_join_full_outer" -> ((s, dir) => {
      val sup = tbl(s, dir, "supplier").where(col("s_nationkey") < 15)
        .groupBy(col("s_nationkey").as("snk"))
        .agg(count(lit(1)).as("n_supp"))
      val cus = tbl(s, dir, "customer").where(col("c_nationkey") >= 10)
        .groupBy(col("c_nationkey").as("cnk"))
        .agg(count(lit(1)).as("n_cust"))
      sup.join(cus, col("snk") === col("cnk"), "full_outer")
        .select(coalesce(col("snk"), col("cnk")).as("nationkey"),
          col("n_supp"), col("n_cust"))
    }),

    // Cohort retention matrix — first-activity-day cohorts x day offsets,
    // counting distinct users active at each offset: the standard product-
    // analytics retention query. Two aggregations and one key join, all
    // shuffling on user/cohort keys; dates carried as epoch-day integers
    // so the compare is engine-neutral.
    "rel_retention_cohorts" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min(col("day")).as("cohort"))
      e.join(first, "user_id")
        .select(
          datediff(col("cohort"), to_date(lit("1970-01-01")))
            .cast("long").as("cohort_day"),
          datediff(col("day"), col("cohort")).cast("long").as("offset_days"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_users"))
    }),

    // Conversion funnel (view -> click -> purchase) with ORDER enforced:
    // a step counts only when its first occurrence follows the previous
    // step's first occurrence — one conditional-min aggregation per user,
    // then one row of funnel counts. No self-joins, no window over raw
    // events; the per-user state is three timestamps.
    "rel_funnel_steps" -> ((s, dir) => {
      val us = events(s, dir).groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
      us.agg(
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"),
          1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("t_view").isNotNull && col("t_click") > col("t_view")
          && col("t_purchase") > col("t_click"), 1L).otherwise(0L))
          .as("n_full_funnel"))
    }),

    // CDC changelog compaction: apply an ordered upsert/delete log to
    // produce the current snapshot — last writer per key wins, keys whose
    // final op is a delete vanish (the compact-a-Debezium-stream op; the
    // SCD2 rel_merge_upsert keeps history, this collapses it). One
    // partitioned window, no global ordering anywhere; event_id breaks
    // timestamp ties so the winner is total-order deterministic.
    "rel_cdc_apply" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("op") =!= "delete")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
    }),

    // Bloom-filter semi-join pruning: build a bloom over the filtered
    // dimension's join keys (key-cardinality bytes, broadcastable),
    // pre-filter the fact table BEFORE its join shuffle, then run the
    // real join — false positives die there, so the result is exactly
    // the plain join's (which is what the oracle computes, making the
    // no-false-negative guarantee the thing under test). At 100 TB this
    // is the difference between shuffling every fact row and shuffling
    // the ~selectivity fraction that can possibly match.
    "rel_bloom_join_prune" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      // Size the filter from the DATA, never a constant: a fixed 20k
      // capacity saturated at the 10x ladder rung (29,430 BUILDING
      // keys), silently degrading the prune to a pass-through (FP-rate
      // → ~100%; the downstream inner join kept the ANSWER right, but
      // the operator stopped pruning — the scale ladder caught it).
      // One extra dim-side count is the price of a sketch that holds
      // its FP bound at any scale; driver state stays one long.
      val nKeys = math.max(20000L, (cust.count() * 13L) / 10L)
      val bloom = cust.agg(graft.functions.GraftFunctions
        .bloomAgg(xxhash64(col("c_custkey")), nKeys).as("bf"))
      tbl(s, dir, "orders")
        .crossJoin(broadcast(bloom))
        .where(graft.functions.GraftFunctions.bloomMightContain(
          col("bf"), xxhash64(col("o_custkey"))))
        .join(broadcast(cust.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"))
    }),

    // Bloom-filter accuracy CONTRACT (companion to rel_cms_freq_bounded):
    // probe EVERY customer key against a bloom built over one segment's
    // keys. Present keys can never miss (the bloom guarantee — any miss
    // would also silently drop rows in rel_bloom_join_prune); absent-key
    // false positives must stay under the filter's configured 3% default
    // rate at ANY scale (capacity derives from the segment's key count)
    "rel_bloom_fpp_bounded" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val seg = cust.where(col("c_mktsegment") === "BUILDING")
      // data-derived capacity, same reasoning as rel_bloom_join_prune:
      // the 3% FP contract below is only meaningful if the filter is
      // sized for what it actually holds at THIS scale
      val nKeys = math.max(20000L, (seg.count() * 13L) / 10L)
      val bloom = seg
        .agg(graft.functions.GraftFunctions
          .bloomAgg(xxhash64(col("c_custkey")), nKeys).as("bf"))
      cust.crossJoin(broadcast(bloom))
        .select((col("c_mktsegment") === "BUILDING").as("present"),
          graft.functions.GraftFunctions.bloomMightContain(
            col("bf"), xxhash64(col("c_custkey"))).as("hit"))
        .agg(
          sum(when(col("present") && !col("hit"), 1L).otherwise(0L))
            .as("n_present_missed"),
          (sum(when(!col("present") && col("hit"), 1.0).otherwise(0.0)) /
            sum(when(!col("present"), 1.0).otherwise(0.0)) <= 0.03)
            .cast("long").as("fpr_ok"))
    }),

    // Left semi join: customers having at least one order
    "rel_semi_join" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))),

    // Left anti join: customers with no orders
    "rel_anti_join" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))),

    // Partitioned window: top-3 orders per customer (no global bottleneck)
    "rel_window_topn_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // Distinct aggregation (expand-based multi-distinct)
    "rel_distinct_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_suppkey")).as("d_supp"),
          count(lit(1)).as("cnt"))),

    // Rollup: subtotals + grand total over region/nation hierarchy
    "rel_rollup" -> ((s, dir) =>
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        // re-alias to fresh attrs: the joined lineage trips Spark's
        // ambiguous-self-join detector when rollup re-resolves by name
        .select(col("r_name").as("rn_"), col("n_name").as("nn_"))
        .rollup(col("rn_"), col("nn_"))
        .agg(count(lit(1)).as("n_supp"))
        .select(col("rn_").as("r_name"), col("nn_").as("n_name"),
          col("n_supp"))),

    // Cube over two low-cardinality dims
    "rel_cube" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))),

    // Set ops: EXCEPT / INTERSECT / UNION-distinct over event user sets
    "rel_except" -> ((s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .except(e.where(col("event_type") === "purchase").select("user_id"))
    }),
    "rel_intersect" -> ((s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .intersect(e.where(col("event_type") === "purchase").select("user_id"))
    }),
    "rel_union_distinct" -> ((s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "signup").select("user_id")
        .union(e.where(col("event_type") === "error").select("user_id"))
        .distinct()
    }),

    // Hourly tumbling aggregation over event time (string-formatted bucket)
    "rel_time_hourly_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_value"))),

    // Sessionization: gaps-and-islands via lag + running sum (30-min gap)
    "rel_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > 1800L * 1000000L
            || lag("ts_us", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sess_id", sum("new_sess").over(
          w.rowsBetween(Long.MinValue, 0)))
        .groupBy("user_id")
        .agg(max("sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // Global rank via the custom GlobalRankPlan/GlobalRankExec operator
    // (range-partitioned sort + per-partition offsets — no single-partition
    // window stage at any input size)
    "rel_global_rank_plan" -> ((s, dir) =>
      graft.plans.GlobalRank.ranked(
        events(s, dir).select(col("event_id"), col("value")),
        "value" -> true, "event_id" -> false)),

    // Global rank() WITH TIES, written as the textbook un-partitioned
    // window — rewritten by GlobalRankRule into the boundary-chained
    // GlobalTies operator (tie groups span range partitions; the driver
    // chains first/last boundary rows), so the plan has no
    // single-partition stage. Date-granular order guarantees dense tie
    // groups (~6 orders/day at sf0.01). Census-pinned in PlanAuditSpec.
    "rel_global_rank_ties" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .withColumn("rnk", rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d"))))),

    // dense_rank() variant of the same shape: gap-free group numbering —
    // equivalently the "day index" of each order date.
    "rel_global_dense_rank" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .withColumn("day_idx", dense_rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d"))))),

    // percent_rank() — the relative standing of every order by price.
    // A function of the tie rank and the global count, so it rides the
    // same GlobalTies partials (rounded for cross-engine double compare).
    "rel_percent_rank" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("pr", round(percent_rank().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_totalprice"))), 9))),

    // cume_dist() — the empirical CDF of order prices. Tie-invariant
    // like percent_rank; internally the rewrite plans GlobalTies over
    // the REVERSED order (a forward scan can't see its tie group's end;
    // the reverse rank's complement is #{rows <= current}).
    "rel_cume_dist" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("cd", round(cume_dist().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_totalprice"))), 9))),

    // ntile(10) — global decile assignment over the event stream. Needs
    // a TOTAL order: ntile splits tie groups at bucket boundaries, so an
    // ambiguous order would be engine-dependent row-by-row.
    "rel_ntile_buckets" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("t"), col("event_id"))
        .withColumn("decile", ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))),

    // first_value() — the globally first order's price attached to every
    // row. GlobalEdgeRule plans this as GlobalEdge: the value is spliced
    // from per-partition head partials on the driver (one single-column
    // row), never a single-partition window. Unique (date, key) order
    // keeps the oracle deterministic. Census-pinned.
    "rel_first_value" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("first_price", first(col("o_totalprice")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_orderdate"), col("o_orderkey"))))
        .select("o_orderkey", "o_totalprice", "first_price")),

    // last_value(... IGNORE NULLS) — "last known good": each event
    // carries the latest non-null value at or before it in the total
    // order (error events are null in valuedEvents). GlobalEdge's
    // running latest-non-null, seeded per partition from the
    // driver-spliced carry — the LOCF / gap-fill shape, distributed.
    "rel_last_known_value" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("last_good",
          last(col("v"), ignoreNulls = true).over(prefixWindow))
        .select(col("event_id"), col("v"), col("last_good"))),

    // nth_value(100) — the 100th event's value, NULL for the 99 rows
    // before it: GlobalEdge's spliced-threshold shape (emit the value
    // once the frame end reaches global row 100).
    "rel_nth_value" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("v100", nth_value(col("v"), 100).over(prefixWindow))
        .select(col("event_id"), col("v100"))),

    // last_value(IGNORE NULLS) over the DEFAULT RANGE frame: peer groups
    // are hours; null-hours inherit the latest non-null hour code at or
    // before their group END — GlobalEdge's peer-group buffering plus the
    // trailing-group chain (hour groups span range partitions). The value
    // is a function of the hour key, so the result is deterministic even
    // though RANGE last_value sees ties.
    "rel_last_good_hour" -> ((s, dir) =>
      events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("hs"),
          col("event_id"))
        .withColumn("hv",
          when(col("hs") % 5 === 0, lit(null).cast("long"))
            .otherwise(col("hs") % 997))
        .withColumn("last_good",
          last(col("hv"), ignoreNulls = true).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("hs"))))),

    // As-of join (time-series): for each purchase, the most recent strictly-
    // prior view by the same user — merge-window formulation (one shuffle by
    // user, no range-join explosion)
    "rel_asof_last_view" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("last_view_us",
          max(when(col("event_type") === "view", col("ts_us"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_view_us"))
    }),

    // Exact percentiles per key — distributed range-narrowing selection
    // (ops/Selection.quantileCont), NOT built-in percentile(): the
    // built-in buffers every distinct group value in one task (its
    // TypedImperativeAggregate OpenHashMap), the one remaining
    // scale-killer plan this registry had. Bounded memory everywhere;
    // same quantile_cont contract, round(6) absorbs interpolation ulp.
    "rel_percentiles" -> ((s, dir) => {
      val q = graft.ops.Selection.quantileCont(events(s, dir), "value",
        Seq("event_type"), Seq(0.5, 0.9), qNames = Seq("p50", "p90"))
      q.select(col("event_type"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), col("cnt"))
    }),

    // Exact grouped quantile ladder on the duplicate-heavy integral
    // column (l_quantity: 50 distinct values x millions of rows — the
    // tie-plateau regime where the narrowing collapses to ulp-scale
    // ranges and resolves by bounded distinct-gather)
    "rel_exact_quantiles" -> ((s, dir) => {
      val q = graft.ops.Selection.quantileCont(
        tbl(s, dir, "lineitem"), "l_quantity", Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.75, 0.99),
        qNames = Seq("p25", "p50", "p75", "p99"))
      q.select(col("l_returnflag"), round(col("p25"), 6).as("p25"),
        round(col("p50"), 6).as("p50"), round(col("p75"), 6).as("p75"),
        round(col("p99"), 6).as("p99"), col("cnt"))
    }),

    // WINSORIZED robust statistics — outlier-clipped mean, the standard
    // robust aggregate over a heavy-tailed metric column: exact per-key
    // [p05, p95] bounds from the bounded-memory selection operator
    // (ops/Selection.quantileCont — never a per-group value buffer),
    // broadcast back (model-sized: one row per group), clip, aggregate.
    // Bounds rounded to 6 decimals on BOTH sides before clipping (the
    // interpolation's last ulp may differ across engines); the clipped
    // mean goes through an exact decimal sum (order-insensitive) with
    // the final division in double on both sides.
    "rel_winsorized_stats" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val q = graft.ops.Selection.quantileCont(li, "l_extendedprice",
        Seq("l_returnflag"), Seq(0.05, 0.95), qNames = Seq("qlo", "qhi"))
        .select(col("l_returnflag").as("rf"),
          round(col("qlo"), 6).as("lo"), round(col("qhi"), 6).as("hi"))
      li.join(broadcast(q), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"), col("lo"), col("hi"),
          least(greatest(col("l_extendedprice"), col("lo")), col("hi"))
            .as("w"),
          col("l_extendedprice").as("x"))
        .groupBy(col("l_returnflag"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          round(sum(col("w").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("w_avg"))
    }),

    // ROBUST OUTLIER DETECTION via MAD (median absolute deviation) —
    // the robust z-score: per key, med = median(value), mad =
    // median(|value - med|), outlier iff |value - med| > 3σ-equivalent
    // (3 × 1.4826 × mad = 4.4478 × mad). BOTH medians run through the
    // bounded-memory selection operator (two chained quantileCont calls
    // — never a per-group value buffer); deviations re-derive from the
    // 6-decimal-rounded medians identically on both sides, so the
    // threshold comparison is bit-deterministic cross-engine.
    "rel_outlier_mad" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
      val med = graft.ops.Selection.quantileCont(ev, "value",
        Seq("event_type"), Seq(0.5), qNames = Seq("med"))
        .select(col("event_type").as("t1"), round(col("med"), 6).as("med"))
      val dev = ev.join(broadcast(med), col("event_type") === col("t1"))
        .select(col("event_type"), col("med"),
          abs(col("value") - col("med")).as("ad"))
        .localCheckpoint(false)
      val mad = graft.ops.Selection.quantileCont(dev, "ad",
        Seq("event_type"), Seq(0.5), qNames = Seq("mad"))
        .select(col("event_type").as("t2"), round(col("mad"), 6).as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("t2"))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ad") > col("mad") * lit(4.4478), 1L)
            .otherwise(0L)).as("n_outliers"))
    }),

    // EXACT distinct-count rollup via ROARING-STYLE BITMAPS — the
    // mergeable-and-exact alternative to count(DISTINCT): each
    // (key, 2^15-value-bucket) group folds its members into ONE fixed
    // 4 KB bitmap (bitmap_construct_agg — partial-aggregated map-side),
    // and the final count is a sum of per-bucket popcounts. Where
    // count(DISTINCT) shuffles every distinct (key, value) pair and an
    // HLL surrenders exactness, per-segment bitmaps shuffle O(buckets)
    // fixed bytes, union losslessly across segments/days (the
    // incremental-rollup shape of rel_cms_merge/rel_hll_union, but
    // EXACT), and difference/intersect for audience algebra.
    "rel_bitmap_distinct" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))),

    // K-ANONYMITY SUPPRESSION — the privacy gate before releasing rows
    // keyed by quasi-identifiers: only rows whose full QID group reaches
    // size k survive (every released row is identical on its QIDs to at
    // least k-1 others). Two-phase: the QID group-size table (bounded by
    // the QID domain, broadcast) joins back row-level — one scan + one
    // bounded broadcast at any data size, the released set carries its
    // group size for auditing.
    "rel_k_anonymity" -> ((s, dir) => {
      val k = 8
      val g = tbl(s, dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("grp_n"))
      tbl(s, dir, "customer")
        .join(broadcast(g.where(col("grp_n") >= k)),
          Seq("c_nationkey", "c_mktsegment"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("grp_n"))
    }),

    // EXACT WEIGHTED QUANTILES — importance-weighted statistics
    // (quantity-weighted price percentiles; the corpus analogue is
    // token-weighted document metrics): Selection.weightedQuantile, the
    // weighted twin of the bounded-memory narrowing operator. Integer
    // weights keep every rank quantity an exact long, and the answer is
    // an actual data value — the cross-engine compare is EXACT, no
    // rounding discipline needed.
    "rel_weighted_quantiles" -> ((s, dir) =>
      graft.ops.Selection.weightedQuantile(tbl(s, dir, "lineitem"),
        "l_extendedprice", "l_quantity", Seq("l_returnflag"),
        Seq(0.25, 0.5, 0.9), qNames = Seq("p25_w", "p50_w", "p90_w"))
        .select(col("l_returnflag"), col("p25_w"), col("p50_w"),
          col("p90_w"), col("total_w"))),

    // DIFFERENTIAL-PRIVACY histogram release — the governance gate's
    // noisy sibling (rel_k_anonymity suppresses, this perturbs): per
    // (event_type, day) counts + Laplace(1/ε) noise, ε = 1, sensitivity
    // 1 (one cell per event), non-negativity post-processing, and the
    // TRUE counts never leave the query. Scale shape: one hash
    // aggregate; the noise is O(cells) post-aggregation arithmetic. The
    // noise is md5-SEEDED per cell (deterministic uniform → inverse-CDF
    // Laplace) so the release is reproducible and oracle-checkable; a
    // production release would draw fresh randomness — the mechanism,
    // sensitivity accounting, and post-processing are the engine parts.
    "rel_dp_histogram" -> ((s, dir) => {
      val eps = 1.0
      val cell = concat_ws("|", col("event_type"), col("day"))
      val u = (conv(substring(md5(cell.cast("binary")), 1, 13), 16, 10)
        .cast("double") + lit(0.5)) / lit(4503599627370496.0)
      val lap = signum(u - lit(0.5)) * lit(-1.0 / eps) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      events(s, dir)
        .select(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("true_cnt"))
        .select(col("event_type"), col("day"),
          round(greatest(lit(0.0), col("true_cnt") + lap), 6)
            .as("released"))
    }),

    // EQUI-DEPTH HISTOGRAM — optimizer/table statistics: decile
    // boundaries from the bounded-memory exact selection operator (third
    // Selection.quantileCont call site; never a per-group value buffer),
    // then one scan assigns buckets against the 9 broadcast-as-literals
    // boundaries and aggregates per-bucket count + min/max (the zone-map
    // row). Boundaries rounded HALF_UP to 6 decimals on BOTH sides (the
    // driver mirrors the SQL round()); bucket = boundaries strictly
    // below the value, so edge values land identically in both engines.
    "rel_equi_depth_hist" -> ((s, dir) => {
      val ord = tbl(s, dir, "orders")
      val q = graft.ops.Selection.quantileCont(ord, "o_totalprice", Nil,
        (1 to 9).map(_ / 10.0), qNames = (1 to 9).map(i => s"b$i"))
      val row = q.collect().head // model-sized: 9 doubles + count
      val bs = (1 to 9).map(i => BigDecimal(row.getAs[Double](s"b$i"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val bucket = bs.map(b =>
        when(col("o_totalprice") > lit(b), 1).otherwise(0))
        .reduce(_ + _)
      ord.groupBy(bucket.cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("o_totalprice")), 6).as("lo"),
          round(max(col("o_totalprice")), 6).as("hi"))
    }),

    // Pivot: one column per event type (explicit value list keeps the
    // schema deterministic — no extra distinct-values job)
    "rel_pivot_events" -> ((s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // Unpivot (stack): wide lineitem measures to long form, aggregated
    "rel_unpivot_measures" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), expr(
          "stack(2, 'quantity', cast(l_quantity as decimal(18,2)), " +
            "'extendedprice', cast(l_extendedprice as decimal(18,2))) " +
            "AS (measure, val)"))
        .groupBy("l_returnflag", "measure")
        .agg(sum(col("val")).cast("decimal(18,2)").cast("double")
          .as("total"))),

    // Multiset set operations (EXCEPT ALL / INTERSECT ALL)
    "rel_except_all" -> ((s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .exceptAll(e.where(col("event_type") === "purchase").select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    }),
    "rel_intersect_all" -> ((s, dir) => {
      val e = events(s, dir)
      e.where(col("event_type") === "view").select("user_id")
        .intersectAll(e.where(col("event_type") === "purchase")
          .select("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    }),

    // JSON scalar extraction over the events.props column
    "rel_json_extract" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long"))
          .as("sum_k"), count(lit(1)).as("cnt"))),

    // Date-part functions over order dates
    "rel_date_parts" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .agg(count(lit(1)).as("n_orders"))),

    // String function battery (left/right/lpad/reverse/substr/concat)
    "text_string_funcs" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        substring(col("source"), 1, 3).as("pre"),
        reverse(col("source")).as("rev"),
        lpad(col("lang"), 5, "_").as("padded"),
        concat_ws("|", col("lang"), col("source")).as("joined"),
        length(col("text")).cast("long").as("text_len"))),

    // Multimodal plumbing, driver-checked: synthetic media table (payload
    // = UTF-8 bytes of text), typed metadata via Media.withMeta — the
    // oracle independently recomputes the byte length and payload md5,
    // pinning the Spark-side binary contract: opaque binary column, typed
    // metadata struct, content hashing over raw bytes.
    "media_metadata" -> ((s, dir) => {
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      graft.multimodal.Media.withMeta(media, "utf8")
        .select(col("media_id"), col("kind"), col("meta.format").as("format"),
          md5(col("payload")).as("payload_md5"),
          col("meta.n_bytes").as("n_bytes"))
    }),

    // REAL image decode, driver-checked: synthesize a solid-color PNG per
    // doc (dims/color derived from doc_id), push it through the actual
    // ImageIO decoder in the partition-batch path, and emit the decoded
    // features — every one of which the oracle predicts analytically from
    // doc_id (PNG is lossless, solid colors round-trip exactly)
    "media_image_decode" -> ((s, dir) => {
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
    }),

    // Decode-based exact image dedup (the LAION-style multimodal dedup
    // pass): payloads are synthesized with REPEATS by construction
    // (pattern key = doc_id % 50, so ~10 byte-identical images per key at
    // 500 docs), every payload goes through the REAL ImageIO decode, and
    // the dedup key is a fingerprint of the DECODED content (geometry +
    // per-channel means — robust to container-level byte differences,
    // which is why content dedup beats md5-of-payload for media). One
    // decode scan -> hash-groupBy; the shuffle carries one fingerprint
    // row per image.
    "media_image_dedup" -> ((s, dir) => {
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
    }),

    // REAL audio decode, driver-checked: constant-amplitude PCM16 WAV per
    // doc through the JDK's javax.sound.sampled round trip; constant
    // samples make meanAbs = RMS = peak = amp/32768 exactly (dyadic), so
    // the oracle predicts every decoded feature analytically
    "media_audio_decode" -> ((s, dir) => {
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
    }),

    // REAL image resize end-to-end: synthetic solid PNG per doc, actual
    // ImageIO decode -> bilinear scale to maxDim 4 (never upscaling) ->
    // PNG re-encode, then decode AGAIN through the feature path. The
    // oracle reproduces the integer geometry (trunc(dim * 4.0/maxdim))
    // and colors analytically (bilinear of a constant is the constant).
    "media_image_resize" -> ((s, dir) => {
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
    }),

    // REAL windowed audio analysis: two-segment PCM16 WAV per doc through
    // the actual javax.sound decoder, then one row per 8-frame window
    // with its RMS — window counts, partial tails, and every RMS value
    // are analytic (dyadic amplitudes; windows mix a known count of each
    // segment, and all partial sums stay exactly representable)
    "media_audio_windows" -> ((s, dir) => {
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
    }),

    // REAL spectral audio analysis, exact to the last bit: the same
    // two-segment WAV through the actual decoder, then an 8-point DFT
    // per window computed in the ring Z[√2] (twiddles 2·e^(-2πik/8) are
    // all a+b√2 with integer a, b) — every per-bin power, the spectral
    // energy, and the centroid numerator are exact INTEGERS, and
    // Parseval (e_tot == 32·sum_sq) is an integer identity required
    // per window in-path. The oracle replays the identical integer
    // arithmetic from the analytic fixture (no cos() on either side).
    "media_audio_spectral" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.multimodal.Media.syntheticWav2(
            (16 + id % 32).toInt,
            ((id % 1000 + 1) * 16).toShort,
            ((id % 700 + 1) * 20).toShort))
        }).toDF("media_id", "payload")
      graft.multimodal.Media.extractAudioSpectral(media)
    }),

    // REAL video-frame sampling, driver-checked: synthesize a multi-frame
    // animated GIF per doc (frame count, dims, and per-frame solid colors
    // all derived from doc_id), decode every frame through the JDK's
    // ImageIO ImageReader, keep every 2nd frame, and emit one row per
    // sampled frame — the oracle reproduces frames and colors analytically
    // (indexed-palette GIF round-trips solid colors exactly)
    "media_video_frames" -> ((s, dir) => {
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
    }),

    // REAL per-frame video resize, driver-checked: multi-frame GIF with
    // doc_id-derived dims (up to 13x7), every 2nd frame bilinear-scaled so
    // max(w,h) == 4 (never upscaled) and re-encoded as lossless PNG, then
    // decoded AGAIN through the image-feature path. The oracle reproduces
    // the integer geometry (trunc(dim * 4/maxdim), floor at 1) and the
    // colors analytically (bilinear of a solid frame is the solid color;
    // PNG round-trips it exactly).
    "media_video_resize" -> ((s, dir) => {
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
    }),

    // Window distribution functions: quartile + percent_rank per key
    "rel_window_distribution" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      events(s, dir).select(col("event_type"), col("event_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
    }),

    // Native session windows (Spark's session_window, batch mode): events
    // merge while the gap is < 30 min — same islands the streaming session
    // operator produces; start kept as epoch micros for oracle parity
    "rel_session_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n_events"))),

    // TPC-H Q3-shaped: filtered fact-fact join + distinct-count + revenue
    "rel_q3_shipping" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(tbl(s, dir, "lineitem")
            .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("revenue"))),

    // TPC-H Q5-shaped: 6-table join, local-supplier condition, per-nation
    // revenue; dimensions broadcast, facts shuffle on join keys
    "rel_q5_region_revenue" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue"))),

    // TPC-H Q2 shape: min-cost supplier per part via a CORRELATED scalar
    // subquery over a join (the one relational shape rel_subquery_min_price
    // doesn't cover — its correlation is single-table). The dataset has no
    // partsupp table, so the (part, supplier, cost) relation is derived
    // from lineitem: cost = min(l_extendedprice) per (partkey, suppkey) —
    // a bare min, no arithmetic, so cross-engine comparison is exact.
    // Catalyst rewrites the correlated scalar into an aggregate + join;
    // dims broadcast (asserted in PlanAuditSpec). Known plan property:
    // the inlined ps CTE is evaluated on BOTH sides of the decorrelation
    // (two lineitem aggregates — the same plan vanilla Spark produces
    // for TPC-H Q2); when the double scan matters more than the subquery
    // shape, compute ps once and take the per-part min via the window
    // formulation instead (rel_window_topn_per_group's pattern).
    "rel_q2_min_cost" -> ((s, dir) => {
      tbl(s, dir, "part").createOrReplaceTempView("graft_part")
      tbl(s, dir, "supplier").createOrReplaceTempView("graft_supplier")
      tbl(s, dir, "nation").createOrReplaceTempView("graft_nation")
      tbl(s, dir, "region").createOrReplaceTempView("graft_region")
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""WITH ps AS (SELECT l_partkey AS ps_partkey,
               |                  l_suppkey AS ps_suppkey,
               |                  min(l_extendedprice) AS ps_supplycost
               |           FROM graft_lineitem GROUP BY 1, 2)
               |SELECT p_partkey, p_brand, s_name, n_name,
               |       cast(cast(ps_supplycost AS decimal(18,2)) AS double)
               |         AS min_cost
               |FROM graft_part, ps, graft_supplier, graft_nation, graft_region
               |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
               |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
               |  AND r_name = 'EUROPE' AND p_size <= 10
               |  AND ps_supplycost =
               |      (SELECT min(ps2.ps_supplycost)
               |       FROM ps ps2, graft_supplier s2, graft_nation n2,
               |            graft_region r2
               |       WHERE ps2.ps_partkey = p_partkey
               |         AND ps2.ps_suppkey = s2.s_suppkey
               |         AND s2.s_nationkey = n2.n_nationkey
               |         AND n2.n_regionkey = r2.r_regionkey
               |         AND r2.r_name = 'EUROPE')""".stripMargin)
    }),

    // TPC-H Q7 shape: bilateral trade volume between two nations by ship
    // year — the multi-way join-order exercise (lineitem at the center,
    // orders shuffled in, supplier/customer/nation dims broadcast). The
    // nation pair is pre-filtered INTO both broadcast sides so only the
    // cross-pair filter remains post-join.
    "rel_q7_volume" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = tbl(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n1_key"),
          col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n2_key"),
          col("n_name").as("cust_nation"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue"))
    }),

    // Batch MERGE/upsert with SCD2 semantics, expressed as one outer join
    // + explode: customers are the keyed "current" dimension, the updates
    // batch is each customer's max order total. Matched keys produce TWO
    // rows — the old version closed (is_current=false) and the new one
    // opened — unmatched keys pass through open. A single scan feeds one
    // conditional-array explode (not a self-union, which would re-run the
    // join per branch); at scale this is one shuffle on the merge key.
    // TIME-SERIES DOWNSAMPLING to OHLC BARS — the TSDB rollup: per
    // (key, 5-minute bucket) open/high/low/close/volume. Open and close
    // are arg-extrema, done WITHOUT a window: lexicographic min/max of
    // (t, event_id, v) structs fold inside the ordinary hash aggregate
    // (partial-aggregated map-side; one shuffle keyed by (key, bar) at
    // any scale, no per-bar buffers, no sort).
    "rel_ohlc_bars" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          round(col("value") * 1000).cast("long").as("v"))
        .where(col("v").isNotNull)
        .withColumn("bar", expr("t div 300000000") * lit(300000000L))
      e.groupBy(col("event_type"), col("bar"))
        .agg(
          min(struct(col("t"), col("event_id"), col("v")))
            .getField("v").as("open"),
          max(col("v")).as("high"), min(col("v")).as("low"),
          max(struct(col("t"), col("event_id"), col("v")))
            .getField("v").as("close"),
          count(lit(1)).as("n"))
    }),

    // DATA-QUALITY CHECK SUITE (Deequ-style) — the validation gate a
    // pipeline runs before promoting a batch: referential integrity
    // (orders -> customer orphans, anti-join), domain-range violations,
    // key-uniqueness violations, and null-rate, each ONE scan or one
    // broadcast anti-join, unioned into a (check, n_violations,
    // n_checked) report. At 100 TB each check is a single pass with a
    // scalar result — the report is O(checks) rows.
    "rel_dq_checks" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      val li = tbl(s, dir, "lineitem")
      val ev = events(s, dir)
      val orphans = orders.join(cust,
          orders("o_custkey") === cust("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_custkey_fk").as("check"), col("n_violations"))
        .crossJoin(broadcast(orders.agg(count(lit(1)).as("n_checked"))))
      val range = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("lineitem_qty_range").as("check"),
          col("n_violations"), col("n_checked"))
      val uniq = cust.groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
            .as("n_violations"),
          sum(col("c")).as("n_checked"))
        .select(lit("customer_key_unique").as("check"),
          col("n_violations"), col("n_checked"))
      val nulls = ev.agg(
          sum(when(col("value").isNull, 1L).otherwise(0L))
            .as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("events_value_nonnull").as("check"),
          col("n_violations"), col("n_checked"))
      orphans.unionByName(range).unionByName(uniq).unionByName(nulls)
    }),

    // INCREMENTAL VIEW MAINTENANCE of an AGGREGATE — the warehouse
    // pattern that makes 100 TB dashboards affordable: a stored per-key
    // aggregate (count + exact decimal sum — both self-decomposable
    // algebra) absorbs a delta batch by MERGING, never by rescanning
    // history. Here the "stored" view is orders before the cutover and
    // the delta is the rest; maintained = full-outer merge of the two
    // partial aggregates with coalesced algebra. The oracle recomputes
    // from scratch — IVM's correctness contract is exactly "merge equals
    // recompute". Cost: O(delta + affected keys), not O(history).
    "rel_ivm_agg" -> ((s, dir) => {
      val cut = lit("1997-01-01").cast("timestamp")
      def agg(df: DataFrame) = df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      val base = agg(tbl(s, dir, "orders").where(col("o_orderdate") < cut))
        .select(col("o_custkey").as("k0"), col("n").as("n0"),
          col("tot").as("t0"))
      val delta = agg(tbl(s, dir, "orders")
        .where(col("o_orderdate") >= cut))
        .select(col("o_custkey").as("k1"), col("n").as("n1"),
          col("tot").as("t1"))
      base.join(delta, col("k0") === col("k1"), "full_outer")
        .select(coalesce(col("k0"), col("k1")).as("o_custkey"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
            .as("n"),
          (coalesce(col("t0"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("t1"), lit(0).cast("decimal(18,2)")))
            .cast("double").as("tot"))
    }),

    // MULTI-TOUCH ATTRIBUTION (linear) — every purchase splits one unit
    // of credit equally across the same user's views in the prior 30
    // minutes; per-user credit rollup. The join is per-user equi +
    // bounded time residual (fan-out = a user's own view density, never
    // cross-user), credit shares come from an exact per-purchase count,
    // and only the final division is floating (round 6 both sides).
    "rel_multi_touch_attrib" -> ((s, dir) => {
      val e = events(s, dir)
      val views = e.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
          unix_micros(col("ts")).as("v_t"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_t"))
      val pairs = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_t") <= col("p_t") &&
          col("v_t") >= col("p_t") - lit(1800000000L))
      val k = pairs.groupBy(col("p_id")).agg(count(lit(1)).as("k"))
      pairs.join(k, "p_id")
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(lit(1.0) / col("k").cast("double")), 6)
            .as("credit"))
    }),

    // TIME-DECAYED COUNTERS — exp(-(age)/τ) freshness weights per key
    // (τ = 1 day), the feature-store recency signal. The "now" anchor is
    // the corpus max instant: ONE-row aggregate broadcast via the
    // sanctioned crossJoin(broadcast(...)) shape, never a driver
    // collect in the plan. Double exp-sum rounded to 6 (positive terms
    // of one magnitude; order error orders below the rounding grain).
    "rel_decayed_counts" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("t"))
      val now = e.agg(max(col("t")).as("t_now"))
      e.crossJoin(broadcast(now))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(exp((col("t") - col("t_now")).cast("double") /
            lit(86400000000.0))), 6).as("decayed"))
    }),

    // SCD TYPE-2 DIMENSION BUILD — the warehouse changelog-to-versions
    // transform: each user's signup events become versioned dimension
    // rows with [valid_from, valid_to) effectivity (valid_to = next
    // change's instant, NULL while current). One hash-partitioned
    // window per user — lead + row_number share the per-user sort, no
    // global stage, scales with users not history length.
    "rel_scd2_build" -> ((s, dir) => scd2Dim(s, dir)),

    // POINT-IN-TIME (as-of) ENRICHMENT against the SCD2 dimension:
    // each purchase joins the dimension version effective AT ITS
    // instant — the train-serve-skew-free feature lookup. Planned as a
    // hash equi-join on user_id with the validity interval as residual
    // predicate: per-user fan-out is bounded by that user's version
    // count, never a range/nested-loop join. Purchases before the
    // user's first version keep NULLs (left join — the accounting must
    // show them, not drop them).
    "rel_scd2_pit" -> ((s, dir) => {
      val dim = scd2Dim(s, dir)
        .select(col("user_id").as("d_user"), col("k"),
          col("vf"), col("vt"), col("version"))
      events(s, dir).where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
        .join(dim, col("user_id") === col("d_user") &&
          col("t") >= col("vf") &&
          (col("vt").isNull || col("t") < col("vt")), "left_outer")
        .select(col("event_id"), col("user_id"),
          col("k").as("k_at_purchase"), col("version"))
    }),

    "rel_merge_upsert" -> ((s, dir) => {
      val bal = (c: org.apache.spark.sql.Column) =>
        c.cast("decimal(18,2)").cast("double")
      val upd = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_totalprice")).as("new_bal"))
      tbl(s, dir, "customer")
        .join(upd, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"),
          explode(when(col("new_bal").isNotNull,
            array(struct(bal(col("c_acctbal")).as("bal"),
                    lit(false).as("is_current")),
                  struct(bal(col("new_bal")).as("bal"),
                    lit(true).as("is_current"))))
            .otherwise(array(struct(bal(col("c_acctbal")).as("bal"),
              lit(true).as("is_current"))))).as("v"))
        .select(col("c_custkey"), col("c_name"),
          col("v.bal").as("bal"), col("v.is_current").as("is_current"))
    }),

    // Skew-resistant two-stage aggregation (salt on a derived key, then
    // re-aggregate) — identical results to the direct groupBy, so the same
    // oracle applies; at scale this spreads a hot key over 16 reducers
    "rel_salted_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("_salt"))
        .agg(count(lit(1)).as("c"), sum(col("value").cast("decimal(18,2)"))
          .as("v"))
        .groupBy("event_type")
        .agg(sum(col("c")).as("cnt"),
          sum(col("v")).cast("decimal(18,2)").cast("double")
            .as("sum_value"))),

    // Skew-proof salted equi-join (operator form of AQE's skew handling;
    // Joins.saltedEquiJoin): row-identical to the plain join — the oracle
    // is the unsalted SQL join — aggregated to brand level for compact,
    // deterministic output
    "rel_skew_salted_join" -> ((s, dir) => {
      val partDim = tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Joins.saltedEquiJoin(tbl(s, dir, "lineitem"), partDim,
        Seq("l_partkey"), saltN = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"))
    }),

    // The UNSALTED twin of rel_skew_salted_join — the straight join a
    // user writes, same oracle. Exists for the skew-rung A/B: on a
    // Zipf-keyed fact table in the cannot-broadcast regime (a 100 TB
    // vocabulary dim exceeds any broadcast budget; simulated on the
    // rung via SPARK_GRAFT_BENCH_CONF autoBroadcastJoinThreshold=-1)
    // this plan concentrates the hot key on one reducer unless AQE's
    // OptimizeSkewedJoin splits it, while the salted twin spreads it
    // structurally — SCALE_LADDER.md records the measured pair.
    "rel_skew_unsalted_join" -> ((s, dir) => {
      val partDim = tbl(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      tbl(s, dir, "lineitem").join(partDim, Seq("l_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_qty"))
    }),

    // Broadcast range join: fact value against a [lo, hi) band dimension
    // (BroadcastNestedLoopJoin — the fact side streams, never shuffles)
    "rel_range_join" -> ((s, dir) => {
      import s.implicits._
      val ranges = Seq((-1.0e18, 100.0, "low"), (100.0, 250.0, "mid"),
        (250.0, 1.0e18, "high")).toDF("lo", "hi", "band")
      Joins.rangeJoin(events(s, dir), ranges, col("value"),
        col("lo"), col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
            .cast("double").as("sum_value"))
    }),

    // Sketch accuracy CONTRACT, driver-checked: HLL distinct estimate must
    // land within 10% of exact (default rsd 5%); the oracle expects 1 per
    // key, so a drifting sketch fails the round loudly
    "rel_approx_distinct_bounded" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx"),
          countDistinct(col("user_id")).as("exact"))
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct"))),

    // Incremental-sketch HLL: one DataSketches HLL sketch per (key, day)
    // — the partials a pipeline stores — unioned per key by the built-in
    // hll_union_agg, the merge-then-estimate twin of rel_cms_merge_bounded
    // for DISTINCT counts. The unioned estimate must land within 10% of
    // exact (HLL union is lossless over sketches of equal lgK).
    "rel_hll_union_bounded" -> ((s, dir) => {
      val unioned = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
      events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact"))
        .join(unioned, "event_type")
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct"))
    }),

    // Quantile-sketch accuracy CONTRACT (same pattern as the HLL bound):
    // percentile_approx's KLL-style sketch must land within 5% of the
    // exact median per key, checked by the driver every round
    "rel_approx_quantile_bounded" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("approx"),
          expr("percentile(value, 0.5)").as("exact"))
        .select(col("event_type"),
          (abs(col("approx") - col("exact")) <=
            abs(col("exact")) * 0.05 + 1e-9).cast("long")
            .as("within_5pct"))),

    // Count-min-sketch accuracy CONTRACT (heavy-hitter frequency): the
    // built-in count_min_sketch aggregate builds one ~11 KB sketch (eps
    // 0.1%, 99.9% confidence, fixed seed), broadcast against the per-key
    // exact counts and probed by the native graft_cms_estimate expression.
    // CMS guarantees estimate >= exact always and <= exact + eps*N at the
    // confidence level — both sides of the sandwich are driver-checked
    "rel_cms_freq_bounded" -> ((s, dir) => {
      val sketch = events(s, dir).agg(
        expr("count_min_sketch(event_type, 0.001d, 0.999d, 42)").as("cms"),
        count(lit(1)).as("n"))
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sketch))
        .select(col("event_type"),
          (graft.functions.GraftFunctions
            .cmsEstimate(col("cms"), col("event_type"))
            .between(col("exact"),
              col("exact") + ceil(col("n") * 0.001).cast("long")))
            .cast("long").as("within_eps"))
    }),

    // Incremental-sketch CMS: one sketch PER DAY (the partials a 100 TB
    // pipeline would materialize once and store), merged by the native
    // graft_cms_merge aggregate — a merged CMS is bit-identical to one
    // built over the concatenated data at equal eps/confidence/seed, so
    // the merged probe must satisfy the same sandwich the single-sketch
    // rel_cms_freq_bounded pins: estimate >= exact, <= exact + eps*N
    "rel_cms_merge_bounded" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("count_min_sketch(event_type, 0.001d, 0.999d, 42)")
          .as("cms"), count(lit(1)).as("n"))
      val merged = daily.agg(
        graft.functions.GraftFunctions.cmsMerge(col("cms")).as("cms"),
        sum(col("n")).as("n"))
      events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(merged))
        .select(col("event_type"),
          (graft.functions.GraftFunctions
            .cmsEstimate(col("cms"), col("event_type"))
            .between(col("exact"),
              col("exact") + ceil(col("n") * 0.001).cast("long")))
            .cast("long").as("within_eps"))
    }),

    // Z-order layout value: Morton-interleave two key dimensions so a
    // range partitioning by the value clusters rows close in BOTH columns
    // (min/max file stats then prune on either predicate; a lexicographic
    // sort only serves the leading column). Pure bit math — the oracle
    // re-derives every value; the clustering property itself is pinned in
    // NativeFunctionsSpec on range-partitioned bounding boxes.
    "rel_zorder_value" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
        graft.functions.GraftFunctions.zorder(
          pmod(col("user_id"), lit(65536)),
          pmod(col("event_id"), lit(65536))).as("zval"))),

    // TPC-H Q6 shape: single-scan predicate aggregation — the filters reach
    // the parquet scan (PushedFilters), factors go through exact decimal
    "rel_q6_revenue" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
            * col("l_discount").cast("decimal(4,2)"))
          .cast("decimal(18,4)").cast("double").as("revenue"))),

    // TPC-H Q18 shape: large-order detection — aggregate-then-join (the
    // HAVING output is key-space-sized, so the orders join is cheap) with
    // the dimension side broadcast
    "rel_q18_big_orders" -> ((s, dir) => {
      val big = tbl(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qsum"))
        .where(col("qsum") > 300)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is
          // wall-clock-preserving and matches DuckDB's epoch_us
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_totalprice").cast("decimal(18,2)").cast("double")
            .as("o_totalprice"),
          col("qsum").cast("decimal(18,2)").cast("double").as("sum_qty"))
    }),

    // SQL surface: correlated scalar subquery (Catalyst decorrelates it
    // into an aggregate + join — the plan a user would otherwise hand-write)
    "rel_subquery_min_price" -> ((s, dir) => {
      tbl(s, dir, "part").createOrReplaceTempView("graft_part")
      s.sql("""SELECT p_brand, p_partkey,
               |       cast(cast(p_retailprice AS decimal(18,2)) AS double)
               |         AS p_retailprice
               |FROM graft_part p
               |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
               |                       FROM graft_part p2
               |                       WHERE p2.p_brand = p.p_brand)"""
        .stripMargin)
    }),

    // SQL surface: EXISTS subquery (planned as a left-semi join)
    "rel_subquery_exists" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_orders")
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""SELECT o_orderkey, o_orderstatus
               |FROM graft_orders o
               |WHERE EXISTS (SELECT 1 FROM graft_lineitem l
               |              WHERE l.l_orderkey = o.o_orderkey
               |                AND l.l_quantity >= 45)""".stripMargin)
    }),

    // HLL sketch (approximate distinct). Raw estimates differ per engine
    // by design, so the ORACLE-CHECKED surface is the accuracy contract:
    // the sketch estimate must land within 10% of the exact distinct
    // count (default rsd 5%) — a drifting sketch fails the round loudly
    // instead of hiding behind a rows-only check.
    "rel_approx_distinct" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("cnt"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10)
            .cast("long").as("within_10pct"))),

    // TF-IDF weights per token (smoothed idf over document frequency)
    "text_tfidf" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val dfs = docs
        .select(col("doc_id"), explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      dfs.crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .select(col("token"), col("df"),
          round(log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0, 6)
            .as("idf"))
    }),

    // Sparse text similarity SEARCH: top-10 corpus documents per query doc
    // by term-frequency cosine, via a token join. The query vectors (docs
    // 0-4) are broadcast, so the corpus side streams through the join
    // without shuffling — the query-vs-100TB-corpus plan. (All-PAIRS
    // near-dup deliberately does NOT go through this query: a token
    // self-join is Σ df² — quadratic in per-token document frequency —
    // which is what the MinHash-LSH path is for.) Dot products and norms
    // stay exact integers until the final division, so parity is exact.
    "text_doc_cosine" -> ((s, dir) => {
      // materialized once: the tf table feeds FOUR consumers (the
      // broadcast query side, the probe side, and both norm joins) —
      // un-checkpointed, Catalyst re-ran the tokenize+explode+aggregate
      // subtree for each of them (the 32-core anti-scaling the r18
      // driver bench flagged: 4x duplicated tiny-task work)
      val tk = tbl(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.cleanTokens(col("text")))
          .as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val nm = tk.groupBy("doc_id")
        .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
        .localCheckpoint(false)
      val dots = broadcast(tk.where(col("doc_id") < 5)
          .select(col("doc_id").as("q"), col("token"), col("tf").as("tf_q")))
        .join(tk.select(col("doc_id").as("d"), col("token"),
          col("tf").as("tf_d")), Seq("token"))
        .where(col("d") =!= col("q"))
        .groupBy("q", "d")
        .agg(sum(col("tf_q") * col("tf_d")).cast("double").as("dot"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q")
        .orderBy(col("cos").desc, col("d").asc)
      dots
        .join(broadcast(nm.where(col("doc_id") < 5)
          .select(col("doc_id").as("q"), col("nrm").as("nrm_q"))), "q")
        .join(nm.select(col("doc_id").as("d"), col("nrm").as("nrm_d")), "d")
        .select(col("q"), col("d"),
          round(col("dot") / (col("nrm_q") * col("nrm_d")), 6).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
    }),

    // ---- training-data pipeline operators --------------------------------

    // Exact dedup: content-hash groups with representative id + dup count
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactGroups(tbl(s, dir, "documents"), col("text"), col("doc_id"))),

    // Near-exact dedup: whitespace/case-insensitive fingerprint
    "dedup_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Dedup.fingerprint(col("text")).as("fp"))),

    // MinHash signatures (k=8, 3-word shingles, portable md5 minima) via
    // the native MinHashSigExpr (same semantics as Dedup.minhashSignature,
    // ~10x faster: one tight-loop eval per row vs interpreted HOF lambdas)
    "dedup_minhash_sig" -> ((s, dir) => minhashSigDf(s, dir)),

    // LSH bucket histogram: band id -> bucket size (candidate generation).
    // Signature array computed once per row (CollapseProject keeps the
    // non-cheap producer materialized); bands emitted via posexplode.
    "dedup_lsh_buckets" -> ((s, dir) =>
      minhashSigDf(s, dir)
        .select(posexplode(array(Dedup.lshBands(8, 2): _*))
          .as(Seq("band_idx", "band")))
        .select(col("band_idx").cast("long").as("band_idx"), col("band"))
        .groupBy("band_idx", "band").agg(count(lit(1)).as("bucket_size"))),

    // INCREMENTAL LSH INDEX MAINTENANCE DRIVEN BY THE TXN-LOG DIFF — the
    // production LLM-pipeline shape: a standing signature store is kept
    // next to a TxnLog table; when the table moves from v0 to v1,
    // `changedBetween` names exactly the objects the index must
    // re-process — re-LSH only the net-added objects, retire the rows of
    // the net-removed ones. The rel_ivm_agg merge-equals-recompute
    // discipline, applied to dedup: the in-path require pins that the
    // incrementally-maintained index equals a from-scratch index of the
    // new snapshot, row for row. At 100 TB the incremental path
    // re-shingles O(transaction) documents instead of the corpus.
    "dedup_txn_incremental_lsh" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_inc_lsh")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      def lshRows(in: DataFrame): DataFrame = {
        val sigs = in.select(col("doc_id"),
          graft.functions.GraftFunctions.minhashSig(col("text"), 8)
            .as("sig"))
          .select(col("doc_id") +: (0 until 8).map(i =>
            element_at(col("sig"), i + 1).as(s"sig$i")): _*)
        sigs.select(col("doc_id"),
            posexplode(array(Dedup.lshBands(8, 2): _*))
              .as(Seq("band_idx", "band")))
          .select(col("doc_id"),
            col("band_idx").cast("long").as("band_idx"), col("band"))
      }
      // ONE partitioned write lays down all 3 doc-range objects
      // (identical rows/columns to three filtered writes — the staging
      // discipline txnLogStage established)
      val Seq(o0, o1, o2) = stagePartitionedObjects(s, root, "d",
        docs.withColumn("bucket",
          when(col("doc_id") < 200, 0L)
            .when(col("doc_id") < 350, 1L).otherwise(2L)),
        nBuckets = 3)
      TxnLog.commit(s, logDir, 0L, adds = Seq(o0, o1), checkpointEvery = 2)
      // the standing signature store, built once at v0 and persisted
      val index0Dir = s"$root/index_v0"
      lshRows(TxnLog.readSnapshot(s, logDir, 0L))
        .write.mode("overwrite").parquet(index0Dir)
      // v1: one transaction retires a slice and ingests a new one
      TxnLog.commit(s, logDir, 1L, adds = Seq(o2), removes = Seq(o1),
        checkpointEvery = 2)
      val (added, removed) =
        TxnLog.changedBetween(TxnLog.readLog(s, logDir), 0L, 1L)
      require(added == Seq(o2) && removed == Seq(o1),
        s"log diff should name exactly the v1 objects: +$added -$removed")
      // incremental maintenance: O(transaction) re-shingling only
      val retired = s.read.parquet(removed: _*).select(col("doc_id"))
      val incremental = s.read.parquet(index0Dir)
        .join(retired, Seq("doc_id"), "left_anti")
        .unionAll(lshRows(s.read.parquet(added: _*)))
      // merge == recompute: the maintained index must equal the index a
      // from-scratch build of snapshot v1 produces — one multiset-
      // equality pass (±1 tags, all per-tuple sums zero) instead of two
      // exceptAll probes that each re-plan both sides
      val scratch = lshRows(TxnLog.readSnapshot(s, logDir, 1L))
      require(incremental.withColumn("_side", lit(1L))
        .unionByName(scratch.withColumn("_side", lit(-1L)))
        .groupBy(incremental.columns.map(col): _*)
        .agg(sum(col("_side")).as("_d"))
        .where(col("_d") =!= 0L)
        .isEmpty,
        "incremental LSH index diverged from the from-scratch index")
      incremental.groupBy(col("band_idx"), col("band"))
        .agg(count(lit(1)).as("bucket_size"))
    }),

    // SimHash (64-bit, md5-based ±1 bit sums) via the native SimHash64Expr.
    // Fully oracle-checked: every step is md5 + exact integer arithmetic,
    // so DuckDB re-derives the identical 64-bit value (per-bit sign sums
    // over the same first-8-md5-bytes words the minhash oracle parses).
    "dedup_simhash" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("text"))
          .as("simhash"))),

    // Content-defined chunking dedup: rolling-hash chunk boundaries
    // (native CdcChunksExpr), then dedup at CHUNK granularity — the
    // production shape for partially-overlapping documents, where
    // doc-level hashing misses shared passages. Emits the chunks that
    // occur more than once corpus-wide. Pure field arithmetic end to end,
    // so the oracle re-derives identical boundaries in SQL.
    "dedup_cdc_chunks" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.cdcChunks(col("text")))
            .as("chunk"))
        .groupBy(md5(col("chunk")).as("chunk_md5"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occ") > 1)),

    // Two-pass exact heavy hitters: Misra-Gries candidate sketch (one
    // bounded ObjectHashAggregate, no per-key shuffle) -> exact count of
    // the <= 64 candidates only -> exact N/k threshold. See heavyHittersDf.
    "rel_heavy_hitters" -> ((s, dir) => heavyHittersDf(s, dir)),

    // Edit-distance-1 fuzzy self-join via deletion-neighborhood blocking
    // (equi-join on deletion signatures + exact levenshtein verify) — the
    // typo-level entity-resolution primitive. See editPairsDf.
    "dedup_edit_distance_pairs" -> ((s, dir) => editPairsDf(s, dir)),

    // EXACT set-similarity join (Jaccard >= 0.6) via rarest-first prefix
    // filtering — provably finds every pair (no LSH misses); candidate
    // join touches only ~(1-t) of each set. See ssjoinExactDf.
    "dedup_ssjoin_exact" -> ((s, dir) => ssjoinExactDf(s, dir)),

    // Merkle-style two-phase replica diff (ops/TableDiff): per-bucket
    // XOR-of-rowhash + count checksums reduce each side to 256 rows;
    // only differing buckets get the row-level full-outer classify.
    // The new version is a deterministic mutation of orders: keys %101
    // deleted, %97 repriced, %103 re-inserted under shifted keys — the
    // oracle computes the same symmetric difference naively.
    "rel_merkle_diff" -> ((s, dir) => {
      val old = tbl(s, dir, "orders").select(
        col("o_orderkey").as("key"),
        round(col("o_totalprice") * 100).cast("long").as("val"))
      val survived = old.where(col("key") % 101 =!= 0)
        .select(col("key"),
          when(col("key") % 97 === 0, round(col("val") * 1.1).cast("long"))
            .otherwise(col("val")).as("val"))
      val inserted = old.where(col("key") % 103 === 0)
        .select((col("key") + 1000000000L).as("key"), col("val"))
      graft.ops.TableDiff.merkleDiff(old, survived.unionByName(inserted))
    }),

    // Token statistics per document
    "text_token_stats" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        Quality.tokenCount(col("text")).as("n_tokens"),
        Quality.distinctTokenCount(col("text")).as("n_uniq"),
        col("n_chars"))),

    // Sequence-packing analytics: bucket documents by token count into
    // power-of-two padding buckets and measure the padding waste each
    // bucket pays — the batching-efficiency question every pretraining
    // run sizes its packing strategy with. Integer CASE bucketing (no
    // log2 float boundaries), one aggregation over the corpus.
    "text_seq_packing" -> ((s, dir) => {
      val ps = Seq(16, 32, 64, 128, 256, 512, 1024, 2048)
      val n = Quality.tokenCount(col("text"))
      val bucket = ps.foldRight(
        lit(4096L): org.apache.spark.sql.Column)((p, acc) =>
        when(n <= p, lit(p.toLong)).otherwise(acc))
      tbl(s, dir, "documents")
        .select(bucket.as("bucket"), n.as("n_tokens"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          round(lit(1.0) - col("sum_tokens").cast("double") /
            (col("n_docs") * col("bucket")).cast("double"), 6)
            .as("waste_frac"))
    }),

    // Quality scoring: stop-word share, punctuation noise, diversity, score
    // all four outputs from ONE native pass (TextStatsExpr: one
    // code-point walk + one tokenization per row, vs a regex pass plus
    // three interpreted-HOF token passes) — the ratios recomputed from
    // the struct are the identical integer/integer double divisions, so
    // the oracle is unchanged. This was the ladder's one ratio outlier
    // (9.4 s at sf1, round 11/12).
    "text_quality" -> ((s, dir) => {
      val st = graft.functions.GraftFunctions.textStats(col("text"))
      def ratio(num: org.apache.spark.sql.Column,
                den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(den === 0L, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double"))
      val sw = ratio(col("st.n_stop"), col("st.n_tokens"))
      val punct = ratio(col("st.n_punct"), col("st.n_chars"))
      val uniq = ratio(col("st.n_distinct"), col("st.n_tokens"))
      val lenOk = when(col("st.n_chars").between(20L, 20000L), lit(1.0))
        .otherwise(lit(0.0))
      val swOk = when(sw.between(0.05, 0.6), lit(1.0)).otherwise(lit(0.0))
      val punctOk = when(punct < 0.2, lit(1.0)).otherwise(lit(0.0))
      tbl(s, dir, "documents")
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          round(sw, 6).as("sw_ratio"),
          round(punct, 6).as("punct_ratio"),
          round(uniq, 6).as("uniq_ratio"),
          round((lenOk + swOk + punctOk) / lit(3.0), 6).as("q_score"))
    }),

    // Language-ID heuristic (marker-word argmax)
    "text_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.functions.GraftFunctions.langId(col("text"))
          .as("lang_pred"))),

    // End-to-end training-data pipeline — the capstone composition every
    // component exists for: language-ID gate -> token-count quality gate
    // -> exact content dedup (keep min doc_id per md5) -> deterministic
    // md5-bucket train/val/test split -> corpus stats per (split, lang).
    // One scan + one dedup shuffle + one final agg; every stage is the
    // operator its standalone query checks.
    // FEATURE-STORE CAPSTONE — the per-user feature row a serving layer
    // reads: activity counts, last-seen instant, first-touch funnel
    // depth, purchase aggregates, and an exp-decayed recency score, ALL
    // from ONE hash aggregation over the event log (conditional
    // aggregates per feature — adding a feature costs one agg
    // expression, not one pass). The only broadcast is the 1-row corpus
    // max instant anchoring the decay. At 100 TB: one shuffle keyed by
    // user, partial-aggregated map-side; no windows, no joins, no
    // per-user buffers.
    "pipeline_feature_store" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"),
        when(col("event_type") =!= "error",
          round(col("value") * 1000).cast("long")).as("v"))
      val now = e.agg(max(col("t")).as("t_now"))
      val a = e.crossJoin(broadcast(now))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("t")).as("last_seen_us"),
          min(when(col("event_type") === "signup", col("t"))).as("s"),
          min(when(col("event_type") === "view", col("t"))).as("w"),
          min(when(col("event_type") === "purchase", col("t"))).as("p"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          sum(when(col("event_type") === "purchase", col("v"))
            .otherwise(lit(0L))).as("purchase_milli"),
          round(sum(exp((col("t") - col("t_now")).cast("double") /
            lit(86400000000.0))), 6).as("recency"))
      a.select(col("user_id"), col("n_events"), col("last_seen_us"),
        (when(col("s").isNotNull, 1).otherwise(0)
          + when(col("s").isNotNull && col("w").isNotNull &&
              col("w") > col("s"), 1).otherwise(0)
          + when(col("s").isNotNull && col("w").isNotNull &&
              col("w") > col("s") && col("p").isNotNull &&
              col("p") > col("w"), 1).otherwise(0))
          .cast("long").as("steps_completed"),
        col("n_purchases"), col("purchase_milli"), col("recency"))
    }),

    "pipeline_training_data" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.langId(col("text"))
          .as("lang_pred"),
        size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
      val kept = docs.where(col("lang_pred") =!= "unknown" &&
        col("n_tok") >= 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      val deduped = kept.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
      val bucket = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
      deduped
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy("split", "lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    }),

    // Document frequency / term frequency per token (IDF building block)
    "text_doc_freq" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"))),

    // Hashing-trick feature space profile: every token md5-hashes into
    // 256 fixed buckets (the sparse-vector encoding that needs no
    // vocabulary broadcast at 100 TB), and the per-bucket collision
    // profile (distinct tokens sharing the bucket, total term mass)
    // falls out of one explode + hash aggregate. countDistinct is the
    // standard two-phase expand — both shuffles key on bucket/token,
    // bounded cardinality, no driver state.
    "text_feature_hashing" -> ((s, dir) => {
      val bucket = conv(substring(md5(col("token").cast("binary")), 1, 8),
        16, 10).cast("long") % 256
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token"))
        .select(bucket.as("bucket"), col("token"))
        .groupBy("bucket")
        .agg(countDistinct(col("token")).as("n_tokens"),
          count(lit(1)).as("tf"))
    }),

    // BM25 retrieval: score a fixed 3-term query against the corpus.
    // Corpus stats (N, avgdl, per-term df) come from ONE 1-row aggregate
    // that cross-joins back (the sanctioned 1-row shape); per-doc tf
    // comes from explode+filter (only matching term rows survive — the
    // shuffle carries <= |terms| rows per doc, not the token stream).
    // Score arithmetic is written in the exact same literal order as the
    // oracle; round(6) absorbs last-ulp ln() differences across libms.
    "text_bm25" -> ((s, dir) =>
      bm25ScoresDf(s, dir)
        .where(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)),

    // HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION — the standard lexical
    // + vector fusion: rank the corpus by BM25 and (separately) by
    // cosine to the query embedding, keep each list's top 50, and fuse
    // with RRF (Σ 1/(60 + rank)). Both rankings are global row_numbers
    // over rounded scores with id tiebreaks — planned as the
    // distributed GlobalRank/GlobalTies, no single-partition stage —
    // and the fusion is one tiny full-outer join of two ≤50-row lists.
    // Rank lists, not raw scores, are what make fusion robust to score
    // scale; determinism comes from rounding before ranking.
    "emb_hybrid_rrf" -> ((s, dir) => {
      val wLex = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25").desc, col("doc_id"))
      val lex = bm25ScoresDf(s, dir)
        .withColumn("r_lex", row_number().over(wLex).cast("long"))
        .where(col("r_lex") <= 50)
        .select(col("doc_id").as("lid"), col("r_lex"))
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val wVec = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("vec_id"))
      val vec = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.ops.Similarity.cosine(col("embedding"),
            col("q_emb")), 6).as("cos"))
        .withColumn("r_vec", row_number().over(wVec).cast("long"))
        .where(col("r_vec") <= 50)
        .select(col("vec_id").as("vid"), col("r_vec"))
      lex.join(vec, col("lid") === col("vid"), "full_outer")
        .select(coalesce(col("lid"), col("vid")).as("id"),
          col("r_lex"), col("r_vec"),
          round(coalesce(lit(1.0) / (lit(60.0) +
              col("r_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) +
              col("r_vec").cast("double")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(10)
    }),

    // Deterministic stratified sampling: per-stratum rates via an
    // md5-bucket predicate on the row key — never rand(), so the sample
    // is reproducible across engines, retries, and partitionings (the
    // property a training-data pipeline needs for lineage)
    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis) made
    // DETERMINISTIC: u = md5-derived 52-bit uniform per row, key =
    // -ln(u)/w, keep the k smallest keys — exactly the ES reservoir
    // scheme, but the "randomness" is a content hash so both engines
    // (and any re-run) draw the identical sample. One scan + a
    // distributed top-k (TakeOrderedAndProject) — the training-data
    // mixing primitive (sample by per-class weight) at any scale. Keys
    // rounded to 9 decimals with an id tiebreak so the cut row cannot
    // flip on a last-ulp libm difference.
    "rel_weighted_sample" -> ((s, dir) => {
      val h = conv(substring(md5(col("event_id").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long")
      val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
      val w = when(col("event_type") === "click", 20.0)
        .when(col("event_type") === "view", 10.0).otherwise(5.0)
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          round(-log(u) / w, 9).as("k"))
        .orderBy(col("k"), col("event_id")).limit(500)
    }),

    // GROUPED LINEAR REGRESSION in closed form — per-key trend
    // (slope/intercept of value vs time) from ONE aggregation of exact
    // integer sums: x = whole seconds since the key's first event
    // (integer div — exact), y = milli-units. n, Σx, Σy fit longs, but
    // the SECOND moments do not at scale — Σx² ≤ n·span² passes
    // Long.Max at ~100 rows for a decade span (x ≈ 3e8 → x² ≈ 1e17),
    // so each long product is cast to decimal(38,0) BEFORE summing
    // (the product itself always fits a long; only the sum widens).
    // DuckDB's oracle sums in int128, so this also keeps the two
    // engines exact-equal instead of diverging on a silent non-ANSI
    // wraparound. Still ONE partial-aggregated hash aggregate.
    // The closed-form division happens once per group on
    // exact sums cast to double in the same literal order both sides.
    // No window, no per-group buffers — regression at 100 TB is one
    // hash aggregate.
    "rel_regression_per_key" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
          unix_micros(col("ts")).as("t"),
          round(col("value") * 1000).cast("long").as("y"))
        .where(col("y").isNotNull)
      val m = ev.groupBy(col("event_type").as("et"))
        .agg(min(col("t")).as("t0"))
      val d = ev.join(broadcast(m), col("event_type") === col("et"))
        .select(col("event_type"),
          // integer div, not `/` + cast: double division can round
          // x.999999 up across the integer boundary; div is exact
          expr("(t - t0) div 1000000").as("x"), col("y"))
      val a = d.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val slope = (nD * col("sxy").cast("double") - sxD * syD) /
        (nD * col("sxx").cast("double") - sxD * sxD)
      a.select(col("event_type"), col("n"),
        round(slope, 9).as("slope"),
        round((syD - slope * sxD) / nD, 6).as("intercept"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences — the behavior-model / next-event-prediction shape.
    // The lag window is PARTITIONED by user (distributed; no global
    // sort), the pair aggregation is one partial+final hash aggregate,
    // and the per-source totals frame is |types|² rows, so the
    // normalizing join broadcasts. At 100 TB: one partitioned window +
    // one shuffle on a tiny key space.
    "rel_markov_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .where(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        // |types|² rows; checkpoint so the totals derivation reuses this
        // tiny frame instead of replaying the scan + window + aggregate
        .localCheckpoint(false)
      val tot = pairs.groupBy("src").agg(sum(col("cnt")).as("tot"))
      pairs.join(broadcast(tot), "src")
        .select(col("src"), col("dst"), col("cnt"),
          round(col("cnt").cast("double") / col("tot").cast("double"), 6)
            .as("prob"))
    }),

    // Mutual information + chi-squared independence cells for
    // event_type × hour-of-day — the feature-relevance / drift screen.
    // ONE hash aggregate over the data produces the joint contingency
    // table (|types|×24 rows); marginals and N derive from that tiny
    // frame (localCheckpointed once so the events scan runs once), and
    // every cell's MI and chi² term is a pure literal double formula
    // over exact longs — no double SUMMATION anywhere, so the compare
    // is deterministic (per-cell rows, not an order-dependent total).
    "rel_mutual_info" -> ((s, dir) => {
      val joint = events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val rm = joint.groupBy(col("event_type").as("et"))
        .agg(sum(col("cnt")).as("rc"))
      val cm = joint.groupBy(col("hr").as("h"))
        .agg(sum(col("cnt")).as("cc"))
      val n = joint.agg(sum(col("cnt")).as("n"))
      val cD = col("cnt").cast("double"); val nD = col("n").cast("double")
      val rD = col("rc").cast("double"); val ccD = col("cc").cast("double")
      val e = rD * ccD / nD
      joint.join(broadcast(rm), col("event_type") === col("et"))
        .join(broadcast(cm), col("hr") === col("h"))
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("hr"), col("cnt"),
          round(e, 6).as("exp_cnt"),
          round((cD - e) * (cD - e) / e, 6).as("chi2_term"),
          round((cD / nD) * log(cD * nD / (rD * ccD)), 6).as("mi_term"))
    }),

    // Full Pearson correlation matrix over lineitem's four measures in
    // ONE pass: every first/second moment (4 sums, 4 sum-of-squares, 6
    // cross products) accumulates in a single partial+final hash
    // aggregate — no per-pair scans, no corr() re-reads. Measures are
    // quantized to exact integer units first (cents/hundredths via the
    // portable floor(x+0.5)), per-row products fit longs (< 2^47), and
    // the SUMS widen to decimal(38,0) — Σp² passes Long.Max near 10⁵
    // rows of 7-digit cents, i.e. immediately at scale. The 6
    // correlations then unpivot from the one-row aggregate via a
    // 6-struct explode: at 100 TB this query is exactly one scan + one
    // 15-column aggregation.
    "rel_correlation_matrix" -> ((s, dir) => {
      def units(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
        floor(c * scale + 0.5).cast("long")
      val li = tbl(s, dir, "lineitem").select(
        units(col("l_quantity"), 1).as("q"),
        units(col("l_extendedprice"), 100).as("p"),
        units(col("l_discount"), 100).as("d"),
        units(col("l_tax"), 100).as("t"))
      val cols = Seq("q", "p", "d", "t")
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "d" -> "discount", "t" -> "tax")
      val sums =
        Seq(count(lit(1)).as("n")) ++
        cols.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          sum((col(a) * col(b)).cast("decimal(38,0)")).as(s"s_${a}_$b")
        } ++
        cols.map(c =>
          sum((col(c) * col(c)).cast("decimal(38,0)")).as(s"s_${c}_$c"))
      val agg = li.agg(sums.head, sums.tail: _*)
      val nD = col("n").cast("double")
      def sD(c: String) = col(s"s_$c").cast("double")
      def sqD(a: String, b: String) = col(s"s_${a}_$b").cast("double")
      def corrOf(a: String, b: String): org.apache.spark.sql.Column =
        round((nD * sqD(a, b) - sD(a) * sD(b)) /
          (sqrt(nD * sqD(a, a) - sD(a) * sD(a)) *
            sqrt(nD * sqD(b, b) - sD(b) * sD(b))), 6)
      val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
        struct(lit(names(a)).as("col_a"), lit(names(b)).as("col_b"),
          corrOf(a, b).as("corr"))
      }
      agg.select(col("n"), explode(array(pairs: _*)).as("pr"))
        .select(col("n"), col("pr.col_a").as("col_a"),
          col("pr.col_b").as("col_b"), col("pr.corr").as("corr"))
    }),

    // Single-source shortest hop distance (BFS) over the bipartite
    // customer–supplier graph induced by orders ⨝ lineitem — the
    // Pregel-lite iterative shape: O(diameter) rounds, each ONE
    // frontier⨝edges hash join + distinct + anti-join against the
    // visited set. The edge list materializes (localCheckpoint) once;
    // each level checkpoints so lineage stays flat — no 2^hops plan
    // blowup, no driver-side data (the driver sees only per-level
    // emptiness). The hop cap (6) mirrors the oracle's recursion bound;
    // the dense bipartite graph's diameter is ~4, so both terminate on
    // an empty frontier, not the cap.
    "rel_shortest_path" -> ((s, dir) => {
      // The whole traversal runs on LONG-encoded node ids (customer k ->
      // 2k, supplier k -> 2k+1 — the rel_label_propagation encoding) and
      // stringifies once at the output: every per-hop join, distinct and
      // anti-join hashes and shuffles 8-byte longs instead of ~8-char
      // strings, and the dedup exchange runs before any string exists
      // (guide §2.3 narrower types). The long->string map is injective,
      // so the emitted (node, dist) set is byte-identical.
      val half = tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // partitioned on the frontier-join key before the one-time
      // checkpoint (preserved by localCheckpoint), so each hop shuffles
      // only the frontier — see rel_label_propagation
      val edges = half
        .unionAll(half.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("a"))
        .localCheckpoint(false)
      var visited = s.range(1)
        .select(lit(3L).as("node"), lit(0L).as("dist")) // s1 -> 2*1+1
        .localCheckpoint(false)
      var frontier = visited
      var hop = 0
      var done = false
      while (!done && hop < 6) {
        hop += 1
        val next = frontier
          .join(edges, col("node") === col("a"))
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(hop.toLong).as("dist"))
          .localCheckpoint(false)
        if (next.isEmpty) done = true
        else {
          // the growing visited set is materialized every 2ND hop: on
          // odd hops it stays a depth-1 union of two checkpointed
          // frames (the previous materialized set + the checkpointed
          // level), which every consumer re-plans cheaply — half the
          // checkpoint I/O for identical levels (r18 verdict #4;
          // A/B'd 3.86 -> 3.29 s solo)
          val u = visited.unionAll(next)
          visited = if (hop % 2 == 0) u.localCheckpoint(false) else u
          frontier = next
        }
      }
      visited.select(
        when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"),
        col("dist"))
    }),

    // Benford first-digit audit over order totals — the fraud/data-
    // quality screen: observed leading-digit shares vs the Benford
    // expectation log10(1+1/d). ONE hash aggregate to 9 rows; the total
    // derives from the checkpointed digit frame (no second scan) and
    // broadcasts back. Every per-digit stat is a literal double formula
    // over exact longs.
    "rel_benford_profile" -> ((s, dir) => {
      val digits = tbl(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val tot = digits.agg(sum(col("n")).as("total"))
      val obs = col("n").cast("double") / col("total").cast("double")
      val exp9 = log(10.0, lit(1.0) + lit(1.0) / col("digit")
        .cast("double"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(obs, 6).as("obs_p"),
          round(exp9, 6).as("exp_p"),
          round(obs - exp9, 6).as("dev"))
    }),

    // TPC-H Q4 shape: per-priority count of orders with at least one
    // LATE line (shipped > 60 days after the order date). The EXISTS
    // becomes a LEFT SEMI join whose condition mixes the equi-key with
    // the non-equi date predicate — Catalyst keeps the equi part as the
    // hash-join key and evaluates the date comparison as a join filter,
    // so the fact-fact semi join still shuffles on orderkey (never a
    // nested loop). The dataset has no l_commitdate/l_receiptdate
    // (TESTDATA.md), so lateness is DEFINED against o_orderdate — a
    // declared adaptation, not canonical Q4.
    "rel_q4_late_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders"))),

    // TPC-H Q9 shape: profit per (nation, order year). The dataset has
    // no partsupp, so supplycost derives as min(l_extendedprice) per
    // (partkey, suppkey) — the same value rel_q2_min_cost derives,
    // attached via a window over one exchange on the derivation key
    // instead of an aggregate + self-join (which scanned and shuffled
    // lineitem twice). All money math in decimal end to end (price,
    // discount, cost, quantity each cast to decimal(18,2) before any
    // product), summed exactly, surfaced as double once. Dims
    // (supplier, nation) broadcast; the orders fact join shuffles on
    // orderkey.
    "rel_q9_profit" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      // supplycost = min(price) per (partkey, suppkey) attached as a
      // WINDOW over the fact stream: one exchange on the derivation key
      // computes and attaches the value in place, where the previous
      // aggregate-then-self-join scanned lineitem twice and shuffled it
      // twice on the same key (identical per-row value — the inner join
      // against an aggregate of the same table kept every row)
      val psW = org.apache.spark.sql.expressions.Window
        .partitionBy("l_partkey", "l_suppkey")
      val liPs = li.withColumn("ps_supplycost",
        min(col("l_extendedprice")).over(psW))
      val d2 = (c: Column) => c.cast("decimal(18,2)")
      liPs.join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(d2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - d2(col("l_discount"))) -
            d2(col("ps_supplycost")) * d2(col("l_quantity")))
          .cast("decimal(18,4)").cast("double").as("profit"))
    }),

    // TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    // one year. Two fact joins shuffle on their keys, nation
    // broadcasts, and the top-20 runs as TakeOrderedAndProject (never a
    // global sort): revenue is an exact decimal, and the custkey
    // tiebreak makes the cut deterministic under the driver's
    // hash-compare even if two customers tie to the cent.
    "rel_q10_returned" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem")
            .where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),

    // TPC-H Q14 shape: promo revenue share per ship month. Part is the
    // dimension side — broadcast; one hash aggregate keyed by month.
    // Both revenue sums stay exact decimals; the percentage is the only
    // double op (a single division of two exactly-agreed doubles, then
    // one round — deterministic cross-engine).
    "rel_q14_promo" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("promo_rev"),
          sum(rev).cast("decimal(18,4)").cast("double").as("total_rev"),
          count(lit(1)).as("n_lines"))
        .select(col("month"),
          round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
            .as("promo_pct"),
          col("promo_rev"), col("total_rev"), col("n_lines"))
    }),

    // TPC-H Q8 shape: a nation's market share of STANDARD-part revenue
    // sold into one customer region, per order year. The two fact joins
    // (orders on orderkey, customer on custkey) shuffle on their keys;
    // part, supplier, nation (twice — customer side and supplier side)
    // and region all broadcast. Revenue stays exact decimal until the
    // one share division at the end (round 6 — deterministic
    // cross-engine on exactly-agreed operands).
    "rel_q8_market_share" -> ((s, dir) => {
      val rev = col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))
      val custNation = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("cn_nationkey"),
          col("n_regionkey").as("cn_regionkey"))
      val suppNation = tbl(s, dir, "nation")
        .select(col("n_nationkey").as("sn_nationkey"),
          col("n_name").as("supp_nation"))
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_type") === "STANDARD").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNation),
          col("c_nationkey") === col("cn_nationkey"))
        .join(broadcast(tbl(s, dir, "region")
            .where(col("r_name") === "ASIA")),
          col("cn_regionkey") === col("r_regionkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNation),
          col("s_nationkey") === col("sn_nationkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("nation_rev"),
          sum(rev).cast("decimal(18,4)").cast("double").as("total_rev"),
          count(lit(1)).as("n_lines"))
        .select(col("o_year"),
          round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"),
          col("total_rev"), col("n_lines"))
    }),

    // TPC-H Q11 shape: parts whose inventory value (priced from
    // lineitem — the dataset has no partsupp, declared adaptation)
    // through one region's suppliers exceeds 0.1% of the region total.
    // One hash aggregate keyed by partkey does all data work; the
    // global total is a 1-row broadcast cross join, and the threshold
    // compare stays EXACT decimal (value*1000 > total — never a
    // float fraction), so the cut is deterministic on any engine.
    "rel_q11_important_parts" -> ((s, dir) => {
      val pv = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")
            .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .as("value_d"))
      pv.crossJoin(broadcast(pv.agg(sum(col("value_d")).as("total"))))
        .where(col("value_d") * lit(1000) > col("total"))
        .select(col("partkey"),
          col("value_d").cast("decimal(18,4)").cast("double").as("value"))
    }),

    // TPC-H Q12 shape: high- vs low-priority order counts per line
    // status (the dataset has no l_shipmode — l_linestatus stands in,
    // declared adaptation) among lines shipped >30 days after the
    // order date in one ship year. The CASE-sum pivot folds both
    // counters out of ONE fact-fact hash join (shuffle on orderkey)
    // and one tiny aggregate; the date filters sit on the scan side.
    "rel_q12_priority_class" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem")
            .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
              && col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(hi, 1L).otherwise(0L)).cast("long")
            .as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).cast("long")
            .as("low_line_count"))
    }),

    // TPC-H Q13 shape: distribution of per-customer order counts over
    // one year (priority-filtered), INCLUDING the zero bucket — the
    // filters ride inside the LEFT OUTER join condition so unmatched
    // customers survive with count 0. Two hash aggregates on shrinking
    // keys (custkey, then the tiny count domain); the outer join
    // shuffles on custkey.
    "rel_q13_order_dist" -> ((s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp")
              && col("o_orderdate") < lit("2000-01-01").cast("timestamp")
              && col("o_orderpriority") =!= "4-NOT SPECIFIED"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))),

    // TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    // bucket, excluding flagged suppliers (s_acctbal < 0 stands in for
    // the complaints predicate — no comment column, declared
    // adaptation). The NOT IN becomes a broadcast LEFT ANTI join
    // (supplier is the dim side; s_suppkey is never null, so anti-join
    // and NOT IN agree); countDistinct plans as the standard two-phase
    // expand — both shuffles keyed on the tiny group domain.
    "rel_q16_supplier_cnt" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_brand") =!= "Brand#13"
              && col("p_type") =!= "PROMO"
              && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(tbl(s, dir, "supplier")
            .where(col("s_acctbal") < 0).select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).cast("long")
          .as("supplier_cnt"))),

    // TPC-H Q17 shape: yearly revenue lost to small-quantity lines of
    // one brand — the correlated scalar subquery (0.2 x per-part avg
    // quantity) becomes a per-part aggregate joined back on partkey.
    // Quantities are integral doubles, so per-part sums are exact and
    // the avg (sum/count, one division) agrees bit-for-bit across
    // engines — the 0.2x threshold compare is deterministic. Revenue
    // sums exact decimal; one division by 7.0 at the end.
    "rel_q17_small_qty" -> ((s, dir) => {
      val pl = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_brand") === "Brand#23").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val pa = pl.groupBy(col("l_partkey").as("a_partkey"))
        .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_thresh"))
      pl.join(pa, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity") < col("qty_thresh"))
        .agg(
          round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,4)").cast("double") / lit(7.0), 6)
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q19 shape: revenue under a disjunction of three
    // (brand, size-range, quantity-range) branches. The partkey
    // equi-condition stays the hash-join key; the OR-of-ANDs rides as
    // a join filter — one broadcast hash join, never a nested loop,
    // and the quantity half of each branch pushes to the lineitem scan
    // as (q BETWEEN 1 AND 11 OR q BETWEEN 10 AND 20 OR ...).
    "rel_q19_disjunctive" -> ((s, dir) => {
      val branch = (brand: String, szLo: Int, szHi: Int,
          qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")),
          col("p_partkey") === col("l_partkey") &&
            (branch("Brand#12", 1, 5, 1, 11) ||
              branch("Brand#23", 1, 10, 10, 20) ||
              branch("Brand#3", 1, 15, 20, 30)))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q21 shape: suppliers who single-handedly held up a
    // finished multi-supplier order (their line shipped >75 days after
    // the order date — no receipt/commit dates, declared adaptation).
    // The canonical EXISTS + NOT EXISTS pair collapses into ONE hash
    // aggregate per orderkey — distinct suppliers, distinct LATE
    // suppliers, and (via max over the when-projection, well-defined
    // because the filter pins exactly one) the late supplier's key —
    // then a tiny broadcast join to names. Two shuffles total
    // (orderkey, then s_name), no correlated re-scans.
    "rel_q21_waiting_supplier" -> ((s, dir) => {
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 75 DAYS")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
          countDistinct(col("l_suppkey")).as("ns"),
          countDistinct(when(late, col("l_suppkey"))).as("nls"),
          max(when(late, col("l_suppkey"))).as("late_supp"))
        .where(col("ns") > 1 && col("nls") === 1)
        .join(broadcast(tbl(s, dir, "supplier")),
          col("late_supp") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    }),

    // TPC-H Q22 shape: well-funded customers of a nation set with no
    // recent orders. The scalar threshold (mean positive balance) is a
    // 1-row broadcast cross join compared in EXACT decimal
    // (bal*count > total — never a float mean), so the cut can't
    // diverge across engines; the "no recent orders" NOT EXISTS is a
    // LEFT ANTI join shuffling on custkey with the date filter pushed
    // to the orders scan.
    "rel_q22_idle_rich" -> ((s, dir) => {
      val pool = tbl(s, dir, "customer")
        .where(col("c_nationkey").isin(3, 8, 13, 18, 23))
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val thresh = pool.where(col("bal") > 0)
        .agg(sum(col("bal")).as("pos_total"),
          count(lit(1)).as("pos_n"))
      pool.crossJoin(broadcast(thresh))
        .where(col("bal") * col("pos_n") > col("pos_total"))
        .join(tbl(s, dir, "orders")
            .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
    }),

    // TPC-H Q15 shape: the top supplier(s) by revenue in one quarter —
    // the canonical CREATE VIEW + scalar max becomes one hash
    // aggregate keyed by suppkey, its 1-row max broadcast back via a
    // cross join, and an EXACT decimal equality keeps the tie
    // semantics (every supplier AT the max survives, as the spec
    // demands — never a top-1 cut that drops ties).
    "rel_q15_top_supplier" -> ((s, dir) => {
      val rev = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
          .as("rev_d"))
      rev.crossJoin(broadcast(rev.agg(max(col("rev_d")).as("max_rev"))))
        .where(col("rev_d") === col("max_rev"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_d").cast("decimal(18,4)").cast("double")
            .as("total_revenue"))
    }),

    // TPC-H Q20 shape: suppliers who shipped the majority (>50%) of a
    // PROMO part's volume in one year — the nested available-quantity
    // EXISTS becomes two stacked aggregates on SHRINKING keys
    // ((part, supp), then part) and a join back on partkey; the
    // majority compare is exact (quantities are integral doubles, so
    // every sum is exact and *2 never rounds). distinct() collapses a
    // supplier holding several majorities; supplier names broadcast.
    "rel_q20_excess_suppliers" -> ((s, dir) => {
      val sq = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(broadcast(tbl(s, dir, "part")
            .where(col("p_type") === "PROMO").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("supp_qty"))
      val pt = sq.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("supp_qty")).as("part_qty"))
      sq.join(pt, col("l_partkey") === col("t_partkey"))
        .where(col("supp_qty") * 2 > col("part_qty"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name").distinct()
    }),

    // Exact per-user trailing median (5-row frame) over event time —
    // the robust-smoothing twin of rel_moving_avg. No built-in exact
    // median window exists: the frame's values collect into a sorted
    // 5-element array (bounded — never grows with data) and the median
    // reads out positionally, interpolating even frames exactly like
    // the oracle's quantile_cont(0.5). Partitioned window — fully
    // distributed, no global sort. The frame array materializes in its
    // OWN projection before the median math: the physical Window node
    // evaluates each windowexpression reference separately, so folding
    // the whole formula over `.over(w)` directly would run SEVEN
    // identical collect_list buffers per row (observed in the plan);
    // split this way it runs one.
    "rel_rolling_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
      val win = col("win")
      val n = size(win)
      val mid = element_at(win, ((n + 1) / 2).cast("int"))
      val midHi = element_at(win, (n / 2).cast("int") + 1)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(col("user_id"), col("event_id"),
          sort_array(collect_list(col("value")).over(w)).as("win"))
        .select(col("user_id"), col("event_id"),
          round(when(n % 2 === 1, mid)
            .otherwise((mid + midHi) / 2.0), 6).as("rmed"))
    }),

    // Market-basket pair mining: co-ordered part pairs with support
    // and lift, top-100 by support. ONE orderkey shuffle builds each
    // order's sorted part-set (collect_set both dedups per-order
    // repeats and bounds the basket); pairs then generate MAP-SIDE
    // from the array (the native graft_pairs expression — strictly
    // ascending, so part_a < part_b by construction) — per-order
    // fan-out is (basket choose 2), a CONSTANT (~4 lines/order) at
    // any corpus size, and work stays linear in orders, never
    // all-pairs over parts. The earlier distinct + self-join shape
    // shuffled the item set three times (distinct, then both join
    // sides); this one shuffles lineitem once and the generated pairs
    // once. Per-part supports come off the same checkpointed baskets
    // and shuffle-join back on the part key (the part domain grows
    // with SF, so it gets no broadcast hint; AQE may still broadcast
    // a measured-small side); the top-100
    // runs as TakeOrderedAndProject with a (part_a, part_b) tiebreak
    // so the cut is deterministic through support ties, and lift
    // divides two exact integers once.
    "rel_basket_pairs" -> ((s, dir) => {
      // materialized once (localCheckpoint): consumed THREE times —
      // pair generation, per-part supports, and the order count
      val baskets = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint(false)
      val pairs = baskets
        .select(explode(
          graft.functions.GraftFunctions.sortedPairs(col("parts")))
          .as("p"))
        .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
        .agg(count(lit(1)).as("cnt"))
      val pc = baskets.select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
      val n = baskets.agg(count(lit(1)).as("n_orders"))
      // per-part supports are vocabulary-sized (distinct parts grow
      // with SF) — no broadcast hint; the pair list shuffle-joins on
      // the part key. Only the 1-row order count broadcasts.
      pairs
        .join(pc.select(col("l_partkey").as("pa_key"),
          col("supp").as("supp_a")), col("part_a") === col("pa_key"))
        .join(pc.select(col("l_partkey").as("pb_key"),
          col("supp").as("supp_b")), col("part_b") === col("pb_key"))
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("cnt"),
          round((col("cnt") * col("n_orders")).cast("double") /
            (col("supp_a") * col("supp_b")).cast("double"), 6).as("lift"))
        .orderBy(col("cnt").desc, col("part_a").asc, col("part_b").asc)
        .limit(100)
    }),

    // CUSUM drift screen over the hourly event-count series: the
    // running deviation from the global mean (S_t = cumsum - t*mu),
    // the classic change-point indicator. One data-sized hash
    // aggregate shrinks the stream to O(hours); the global running
    // sum over that tiny frame is exactly the shape the session
    // extension rewrites to the distributed GlobalScan (no
    // single-partition window), and S_t stays exact-integer until the
    // one t*mu product (two exact ints divided once — deterministic).
    "rel_cusum_hourly" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      h.crossJoin(broadcast(
          h.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n"))))
        .select(col("hr"), col("cnt"),
          sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0)).as("run"),
          row_number().over(w).as("rn"),
          col("total"), col("n"))
        .select(
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("cnt"),
          round(col("run") -
            col("rn") * (col("total").cast("double") / col("n")), 6)
            .as("cusum"))
    }),

    // Two-sample Kolmogorov-Smirnov test (purchase vs click values) —
    // the distribution-SHAPE twin of rel_mann_whitney's location test.
    // D = max_x |F1(x) - F2(x)|, evaluated EXACTLY: the stream
    // aggregates to DISTINCT values (hash agg), TWO stacked GlobalScan
    // prefix sums over the same value order turn per-value counts into
    // both cumulative ECDFs (two-pass distributed, no single-partition
    // window; the second scan reuses the first's range partitioning),
    // and the max deviation folds out of one aggregate in EXACT
    // integer arithmetic — |n2·cumA − n1·cumB| as decimal(38,0) =
    // DuckDB's int128 — divided by n1·n2 ONCE at the end. Both ECDFs
    // step only at observed values, so the max over distinct values IS
    // the supremum.
    "rel_ks_test" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("ga"))
        .groupBy("v")
        .agg(sum(col("ga")).as("na"), count(lit(1)).as("n"))
        .localCheckpoint(false) // feeds the scan chain AND the totals
      val cumA = graft.plans.GlobalScan.runningSum(d, "na", "v" -> false)
        .withColumnRenamed("running", "cum_a")
      val cum = graft.plans.GlobalScan
        .runningSum(cumA, "n", "v" -> false)
        .withColumnRenamed("running", "cum_n")
      val tot = d.agg(sum(col("na")).as("n1"),
        (sum(col("n")) - sum(col("na"))).as("n2"))
      val dev = abs(d38(col("n2")) * d38(col("cum_a")) -
        d38(col("n1")) * (d38(col("cum_n")) - d38(col("cum_a"))))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val ksd = col("dnum").cast("double") / (n1d * n2d)
      cum.crossJoin(broadcast(tot))
        .groupBy("n1", "n2").agg(max(dev).as("dnum"))
        .select(col("n1"), col("n2"), round(ksd, 6).as("ks_d"),
          round(sqrt(n1d * n2d / (n1d + n2d)) * ksd, 6).as("ks_stat"))
    }),

    // Kaplan-Meier survival curve: per-user time from first signup to
    // first subsequent error (death), censored at the corpus horizon.
    // Scale shape: ONE per-user aggregate shrinks the stream to a
    // users-sized frame, a second hash aggregate shrinks that to
    // O(distinct durations); the at-risk counts AND the survival
    // product both come from GlobalScan prefix sums over that tiny
    // frame (no single-partition window anywhere). The product is
    // carried as an exact-integer prefix sum of per-row log-terms
    // (round(ln(1−dᵢ/nᵢ)·1e6) as micros — each term rounds
    // IDENTICALLY on any engine, so no order-sensitive float
    // accumulation), exponentiated once per row at the end.
    "rel_survival_curve" -> ((s, dir) => {
      val births = events(s, dir)
        .where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("b"))
      val firstErr = events(s, dir)
        .where(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("t"))
        .join(births, "user_id").where(col("t") >= col("b"))
        .groupBy("user_id").agg(min(col("t")).as("dt"))
      val mx = events(s, dir)
        .agg(max(unix_micros(col("ts"))).as("mx"))
      val u = births.join(firstErr, Seq("user_id"), "left_outer")
        .crossJoin(broadcast(mx))
        .select(
          when(col("dt").isNotNull, expr("(dt - b) div 86400000000"))
            .otherwise(expr("(mx - b) div 86400000000")).as("dur"),
          when(col("dt").isNotNull, 1L).otherwise(0L).as("evf"))
      val g = u.groupBy("dur").agg(sum(col("evf")).as("d"),
          (count(lit(1)) - sum(col("evf"))).as("c"))
        .withColumn("dc", col("d") + col("c"))
        .localCheckpoint(false) // feeds the scan chain AND the total
      val tot = g.agg(sum(col("dc")).as("total"))
      val risk = graft.plans.GlobalScan
        .runningSum(g, "dc", "dur" -> false)
        .crossJoin(broadcast(tot))
        .select(col("dur"), col("d"), col("c"),
          (col("total") - col("running") + col("dc")).as("n_risk"))
      // KM log-term in integer micros; a time where EVERYONE at risk
      // dies sends the survival to exactly 0 from there on (the -1e10
      // sentinel underflows exp to 0 regardless of later terms)
      val term = when(col("d") < col("n_risk"),
        round(log(lit(1.0) -
          col("d").cast("double") / col("n_risk").cast("double")) *
          1e6, 0).cast("long"))
        .otherwise(lit(-10000000000L))
      val r2 = graft.plans.GlobalScan
        .runningSum(risk.withColumn("term", term), "term",
          "dur" -> false)
      r2.select(col("dur").as("dur_day"), col("n_risk"),
        col("d").as("deaths"), col("c").as("censored"),
        round(exp(col("running").cast("double") / 1e6), 6).as("surv"))
    }),

    // Synchronous label propagation (3 rounds) over the bipartite
    // customer–supplier co-order graph — the community-detection
    // sibling of dedup_connected_components (which propagates MIN;
    // LPA propagates the neighbor-MAJORITY label, min on ties, so
    // dense local cliques keep their own labels). Node ids double
    // into disjoint even/odd spaces so one long column carries both
    // sides. Output is the community-size histogram (communities ×
    // 1 row), not per-node labels.
    //
    // Runs through ops/LabelProp.propagate — the ADAPTIVE-frontier LPA:
    // exact synchronous rounds, but each round picks full-aggregate vs
    // frontier-recompute from the MEASURED changed count of the round
    // before (and ends early at convergence — a no-op under fixed-round
    // semantics, since stable labels stay stable). On THIS graph the
    // frontier never engages: a bipartite graph under synchronous
    // updates oscillates en masse (measured at sf0.1: 15999/15999
    // nodes change in every round), so the adaptive rule keeps the
    // one-O(edges)-shuffle-per-round full shape — while cliquey
    // converging graphs (see LabelPropSpec) get frontier-sized rounds.
    "rel_label_propagation" -> ((s, dir) => {
      val half = tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val sym = half
        .unionAll(half.select(col("b").as("a"), col("a").as("b")))
      graft.ops.LabelProp.propagate(sym, 3)
        .groupBy("lbl").agg(count(lit(1)).as("size"))
        .select(col("lbl").as("community"), col("size"))
    }),

    // K-CORE DECOMPOSITION (ops/KCore): distributed peeling on the
    // part co-purchase graph (parts sharing an order >= 2 times — the
    // support filter keeps the graph sparse enough that cores are
    // structure, not noise). Both the 2-core and the 3-core ship in one
    // result so the gate exercises a REAL cascade (at sf0.01 the 3-core
    // peel takes 11 rounds: deleting light parts drops neighbors below
    // k, which peels more — the fixpoint loop, not a single filter).
    // Deletion-order independence makes the bulk-synchronous peel exact
    // against the oracle's sequential recursion; the DuckDB twin runs
    // the identical peel as a recursive CTE capped at the same round
    // budget. Per-round cost is O(E) with E only shrinking; the
    // convergence require turns a pathological chain into a loud
    // failure, never a silent partial core.
    "rel_kcore" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      val sym = pairs
        .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      // cores nest: peel the 3-core FROM the 2-core's edges, so the
      // expensive early cascade runs once
      val core2 = graft.ops.KCore.peelEdges(sym, 2, 30)
      val core3 = graft.ops.KCore.peelEdges(core2, 3, 30)
      graft.ops.KCore.degrees(core2).withColumn("k", lit(2L))
        .unionAll(graft.ops.KCore.degrees(core3).withColumn("k", lit(3L)))
        .select(col("k"), col("vertex"), col("core_deg"))
    }),

    // FULL (capped) CORENESS DECOMPOSITION — the complete core number
    // per vertex via the iterated peel ladder the nesting property
    // licenses: each rung peels the (k+1)-core from the k-core's edges,
    // so the cascades run on an only-shrinking edge list. The cap (K=4)
    // makes the semantic replayable by ANY engine in bounded work — the
    // DuckDB oracle runs exactly three recursive-CTE peels and
    // classifies vertices by rung membership — and is honest at scale,
    // where an unbounded ladder's depth is data-dependent. Same
    // support-filtered part co-purchase graph as rel_kcore.
    "rel_coreness" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      val sym = pairs
        .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.KCore.coreness(sym, 4, 30)
        .select(col("vertex"), col("coreness"))
    }),

    // k-TRUSS DECOMPOSITION — the EDGE-level cohesion structure (every
    // edge in >= k-2 triangles within the subgraph), peeled bulk-
    // synchronously (ops/KTruss) on the same support-filtered part
    // co-purchase graph. The 3- and 4-truss in one result, with each
    // surviving edge's within-truss triangle support. Bulk peeling is
    // deletion-order independent (support only drops), so the DuckDB
    // oracle replays the IDENTICAL peel as 8 unrolled triangle-count
    // rounds (the recursive-CTE form is unavailable here — the support
    // join references the working set three times, which recursive SQL
    // forbids — so the rounds are generated as a CTE chain; rounds past
    // the fixpoint are no-ops, and the engine's loud 8-round budget
    // guarantees the fixpoint is inside the unroll).
    "rel_ktruss" -> ((s, dir) => {
      val pairs = coPurchasePairs(s, dir)
      // trusses nest (the 4-truss is inside the 3-truss: support >= 2
      // implies support >= 1 at every peel step, and bulk peeling is
      // deletion-order independent), so peel the 4-truss FROM the
      // 3-truss's surviving edges — the expensive pair generation and
      // the early cascade run ONCE instead of twice, and the 4-truss
      // cascade starts from the already-shrunk edge list. Same fixpoints
      // as two independent peels from `pairs`.
      val e3 = graft.ops.KTruss.peelEdges(pairs, 3, 8)
      val t3 = e3.join(graft.ops.KTruss.support(e3), Seq("a", "b"))
        .select(col("a"), col("b"), col("sup").as("support"))
      val t4 = graft.ops.KTruss.peel(e3, 4, 8)
      t3.withColumn("k", lit(3L)).unionAll(t4.withColumn("k", lit(4L)))
        .select(col("k"), col("a"), col("b"), col("support"))
    }),

    // Matryoshka-representation recall: how much top-10 cosine
    // retrieval quality survives truncating the 64-dim embeddings to
    // their FIRST 16 dims (the MRL deployment question — prefix dims
    // as the cheap index, full dims as the re-rank). For 20 query
    // vectors: exact top-10 under full-dim cosine vs top-10 under
    // prefix-dim cosine, recall = overlap/10. One scan × broadcast
    // query set; BOTH rankings come from row_number windows
    // partitioned by query (distributed by qid — never a global
    // sort), cosines rounded to 6 with a vec_id tiebreak so the
    // rankings are reproducible cross-engine. The eval is
    // sample-bounded by construction (queries × corpus, one scan).
    "emb_mrl_recall" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = e.select(col("vec_id"), col("embedding").as("e"))
        .crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.ops.Similarity.cosine(col("e"), col("qe")), 6)
            .as("cf"),
          round(graft.ops.Similarity.cosine(
            slice(col("e"), 1, 16), slice(col("qe"), 1, 16)), 6)
            .as("cp"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cf").desc, col("vec_id").asc)
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cp").desc, col("vec_id").asc)
      scored.select(col("qid"), row_number().over(wf).as("rf"),
          row_number().over(wp).as("rp"))
        .groupBy("qid")
        .agg((sum(when(col("rf") <= 10 && col("rp") <= 10, 1L)
          .otherwise(0L)).cast("double") / 10.0).as("recall"))
    }),

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
    "stream_quantile_sketch" -> ((s, dir) => {
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
    }),

    // RFM SEGMENTATION — the classic customer-value grid: per customer
    // recency (days since last order, against the corpus max date),
    // frequency (order count) and monetary (exact cents), each scored
    // into quintiles, reported as the (r,f,m) segment histogram.
    // Scale shape: ONE custkey hash aggregate shrinks orders to a
    // customers-sized frame; the three global ntile(5) windows are
    // exactly what the session extension rewrites to the distributed
    // GlobalTies (range-partitioned, no single-partition sort), each
    // with a custkey tiebreak so bucket boundaries are deterministic
    // cross-engine; the final segment histogram is a 125-key hash agg.
    "rel_rfm_segments" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val base = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val mx = base.agg(max(col("last_d")).as("mxd"))
      base.crossJoin(broadcast(mx))
        .select(col("o_custkey"), col("freq"), col("cents"),
          datediff(col("mxd"), col("last_d")).as("rec"))
        .select(col("o_custkey"), col("cents"),
          ntile(5).over(W.orderBy(col("rec").asc, col("o_custkey").asc))
            .cast("long").as("r_score"),
          ntile(5).over(W.orderBy(col("freq").asc, col("o_custkey").asc))
            .cast("long").as("f_score"),
          ntile(5).over(W.orderBy(col("cents").asc, col("o_custkey").asc))
            .cast("long").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("customers"),
          round(sum(col("cents")).cast("double") / 100.0, 2)
            .as("revenue"))
    }),

    // COHORT LTV — cumulative revenue per signup cohort by age-in-
    // days, divided by cohort size: the lifetime-value curve every
    // subscription dashboard draws (daily grain — the corpus spans one
    // month, so days are the natural cohort unit). Scale shape:
    // per-user signup day is one hash aggregate; purchase revenue
    // aggregates to (cohort, age) BEFORE any window (O(days²) frame);
    // the cumulative sum is a cohort-PARTITIONED window (distributed
    // by cohort day — never a global sort); cohort sizes broadcast
    // back. Cents stay exact longs until the single final division.
    "rel_cohort_ltv" -> ((s, dir) => {
      val su = events(s, dir).where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cd"))
      val sizes = su.groupBy(col("cd")).agg(count(lit(1)).as("users"))
      val g = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("pd"),
          round(col("value") * 100).cast("long").as("cents"))
        .join(su, "user_id")
        .groupBy(col("cd"), datediff(col("pd"), col("cd")).as("age_day"))
        .agg(sum(col("cents")).as("dcents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cd").orderBy("age_day")
        .rowsBetween(Long.MinValue, 0)
      g.select(col("cd"), col("age_day"),
          sum(col("dcents")).over(w).as("cum_cents"))
        .join(broadcast(sizes), "cd")
        .select(date_format(col("cd"), "yyyy-MM-dd").as("cohort"),
          col("age_day").cast("long").as("age_day"), col("users"),
          round(col("cum_cents").cast("double") / 100.0 /
            col("users").cast("double"), 6).as("ltv"))
    }),

    // SEASONAL ANOMALY SCREEN — each hour's event count z-scored
    // against its own HOUR-OF-DAY baseline (3am traffic is judged
    // against other 3ams, not the daily mean), the standard seasonal
    // outlier detector. Scale shape: one data-sized hash aggregate
    // shrinks the stream to O(hours); the 24-row baseline (n, Σx, Σx²
    // — second moments widened to decimal(38,0) so hourly counts in
    // the billions can't overflow) broadcasts back onto the hourly
    // frame. Zero-variance hours yield NULL z, not a divide-by-zero.
    "rel_seasonal_anomaly" -> ((s, dir) => {
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("hr"), col("cnt"), hour(col("hr")).as("hod"))
      val base = h.groupBy(col("hod")).agg(
        count(lit(1)).as("n"), sum(col("cnt")).as("sx"),
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("sxx"))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val ex2 = col("sxx").cast("double") / col("n").cast("double")
      val variance = ex2 - mean * mean
      h.join(broadcast(base), "hod")
        .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("hod").cast("long").as("hod"), col("cnt"),
          round(when(variance > 0,
            (col("cnt").cast("double") - mean) / sqrt(variance)), 6)
            .as("z"))
        .select(col("hour"), col("hod"), col("cnt"), col("z"),
          (abs(col("z")) >= 2.0).cast("long").as("is_anomaly"))
    }),

    // SINGLE CHANGE-POINT — argmax_t |CUSUM_t| over the hourly count
    // series (the decision step on top of rel_cusum_hourly's screen),
    // with the pre/post means and the level shift. Scale shape: the
    // hourly hash aggregate, ONE GlobalScan-rewritten global window
    // for (rn, running sum) — no single-partition stage — then a
    // single-row argmax via max(struct(...)) in EXACT integer
    // arithmetic: the deviation numerator |run·n − rn·total| is
    // decimal(38,0) (= DuckDB's int128), ties broken to the EARLIEST
    // hour by embedding −rn in the struct; doubles appear only in the
    // final mean/shift formulas over that one row.
    "rel_changepoint_hourly" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("hr")
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val h = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val r = h.crossJoin(broadcast(
          h.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n"))))
        .select(col("hr"), col("total"), col("n"),
          sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0)).as("run"),
          row_number().over(w).as("rn"))
        .select(col("total"), col("n"),
          abs(d38(col("run")) * col("n") - d38(col("rn")) * col("total"))
            .as("dev"),
          (-col("rn")).as("nrn"), col("run"), col("rn"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"))
      val best = r.groupBy(col("total"), col("n"))
        .agg(max(struct(col("dev"), col("nrn"), col("run"),
          col("rn"), col("hour"))).as("m"))
      val before = col("m.run").cast("double") /
        col("m.rn").cast("double")
      val after = (col("total") - col("m.run")).cast("double") /
        (col("n") - col("m.rn")).cast("double")
      best.select(col("m.hour").as("hour"),
        round(col("m.dev").cast("double") / col("n").cast("double"), 6)
          .as("cusum_abs"),
        round(before, 6).as("mean_before"),
        round(when(col("n") > col("m.rn"), after), 6).as("mean_after"),
        round(when(col("n") > col("m.rn"), after - before), 6)
          .as("shift"))
    }),

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
    "stream_hll_distinct" -> ((s, dir) => {
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
    }),

    // KEYWORD EXTRACTION — top-3 tf-idf terms per document, the
    // per-doc twin of the corpus-level text_tfidf. Scale shape: the
    // (doc, token, tf) frame is one hash aggregate; document
    // frequencies join on the token hash (size-based broadcast when
    // the vocab is small, shuffle once it grows with the corpus — the
    // plan is declarative either way); the per-doc top-3 is a doc-PARTITIONED
    // row_number whose rank<=3 filter plans as WindowGroupLimit
    // (partial top-N before the shuffle). Scores round to 6 BEFORE
    // ranking, token-asc tiebreak, so the cut is cross-engine exact.
    "text_keyword_topk" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val tk = docs.select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfs = tk.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("score").desc, col("token").asc)
      tk.join(dfs, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0))
            + 1.0), 6).as("score"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("token"), col("score"))
    }),

    // AUDIO DEDUP — the audio sibling of media_image_dedup: one REAL
    // WAV decode per document (typed mapPartitions, no shuffle until
    // the fingerprint aggregate), content fingerprint from the decoded
    // features (frame count + peak amplitude — constant-amplitude PCM
    // makes peak = amp/32768 exactly dyadic, so the quantized
    // fingerprint is bit-stable), then one hash aggregate groups
    // duplicates. Payload params collide on doc_id % 40 by
    // construction, so the oracle reproduces groups analytically.
    "media_audio_dedup" -> ((s, dir) => {
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
    }),

    // BINARY-HAMMING ANN — 64-bit sign codes (1 bit per dim, packed
    // into two 32-bit halves by a single in-scan fold — no explode, no
    // shuffle to build the index) ranked by bit_count(xor) against the
    // exact cosine top-10: the memory-bound deployment question (64
    // bits vs 256 bytes per vector) answered as recall@10 per query.
    // Codegen-friendly: the fold, xor and popcount are all built-in
    // expressions; ranking is per-query windows (distributed by qid).
    "emb_hamming_recall" -> ((s, dir) => {
      val signCode = (lo: Int) =>
        s"aggregate(slice(embedding, $lo, 32), 0L, " +
          "(acc, x) -> acc * 2L + IF(x > 0d, 1L, 0L))"
      val codes = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"), expr(signCode(1)).as("lo"),
        expr(signCode(33)).as("hi"))
      val q = codes.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("lo").as("qlo"),
          col("hi").as("qhi"))
        .where(col("qid") < 20)
      val scored = codes.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(graft.ops.Similarity.cosine(col("embedding"), col("qe")),
            6).as("cf"),
          expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").as("ham"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cf").desc, col("vec_id").asc)
      val wh = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("ham").asc, col("vec_id").asc)
      scored.select(col("qid"), row_number().over(wf).as("rf"),
          row_number().over(wh).as("rh"))
        .groupBy("qid")
        .agg((sum(when(col("rf") <= 10 && col("rh") <= 10, 1L)
          .otherwise(0L)).cast("double") / 10.0).as("recall"))
    }),

    // THEIL INDEX — customer-revenue inequality decomposed by nation
    // (T = Σ share·T_within + Σ between): the additive-decomposition
    // inequality measure a fairness audit reports per segment. Scale
    // shape: one custkey aggregate shrinks orders to customers, one
    // nationkey aggregate to 25 groups (broadcast back for the
    // per-customer terms); each (x/μ_g)ln(x/μ_g) term is computed from
    // deterministic inputs, rounded ONCE to 6, and summed as exact
    // decimal(38,6) — so the sum is order-independent and cross-engine
    // identical (the float-window discipline used by text_zipf_fit).
    "rel_theil_index" -> ((s, dir) => {
      val rev = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .join(tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      val g = rev.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("ng"), sum(col("cents")).as("xg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("xg")).as("x"))
      val mug = col("xg").cast("double") / col("ng").cast("double")
      val within = rev.join(broadcast(g), "c_nationkey")
        .select(col("c_nationkey"),
          round((col("cents").cast("double") / mug) *
            log(col("cents").cast("double") / mug), 6)
            .cast("decimal(38,6)").as("term"))
        .groupBy("c_nationkey").agg(sum(col("term")).as("tsum"))
      val mu = col("x").cast("double") / col("n").cast("double")
      g.join(within, "c_nationkey").crossJoin(broadcast(tot))
        .join(broadcast(tbl(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("ng"),
          round(col("xg").cast("double") / col("x").cast("double"), 6)
            .as("share"),
          round(col("tsum").cast("double") / col("ng").cast("double"), 6)
            .as("theil_within"),
          round((col("ng").cast("double") / col("n").cast("double")) *
            (mug / mu) * log(mug / mu), 6).as("between_term"))
    }),

    // WELCH'S T-TEST — unequal-variance two-sample test (purchase vs
    // click values), the parametric member of the A/B family
    // (rel_abtest_report z, rel_mann_whitney U, rel_ks_test D). ONE
    // map-side-combined aggregate over the stream computes both
    // groups' (n, Σx, Σx²) via conditional aggregation — no join, no
    // second scan; moments stay exact (cents as long, squares as
    // decimal(38,0) = int128) until the closed-form t and
    // Welch–Satterthwaite df over the single result row.
    "rel_welch_ttest" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val isP = col("event_type") === "purchase"
      val a = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(isP.as("p"),
          round(col("value") * 100).cast("long").as("c"))
        .agg(
          sum(when(col("p"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("p"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("p"), col("c")).otherwise(0L)).as("s1"),
          sum(when(!col("p"), col("c")).otherwise(0L)).as("s2"),
          sum(when(col("p"), d38(col("c")) * col("c")).otherwise(d38(lit(0))))
            .as("q1"),
          sum(when(!col("p"), d38(col("c")) * col("c")).otherwise(d38(lit(0))))
            .as("q2"))
      val m1 = col("s1").cast("double") / 100.0 / col("n1").cast("double")
      val m2 = col("s2").cast("double") / 100.0 / col("n2").cast("double")
      def svar(q: Column, sx: Column, n: Column): Column =
        (q.cast("double") / 10000.0 -
          (sx.cast("double") / 100.0) * (sx.cast("double") / 100.0) /
            n.cast("double")) / (n.cast("double") - 1.0)
      val v1 = svar(col("q1"), col("s1"), col("n1"))
      val v2 = svar(col("q2"), col("s2"), col("n2"))
      val se1 = v1 / col("n1").cast("double")
      val se2 = v2 / col("n2").cast("double")
      a.select(col("n1"), col("n2"),
        round(m1 - m2, 6).as("mean_diff"),
        round((m1 - m2) / sqrt(se1 + se2), 6).as("t_stat"),
        round((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (col("n1").cast("double") - 1.0) +
           se2 * se2 / (col("n2").cast("double") - 1.0)), 2).as("df"))
    }),

    // JACKKNIFE DAY INFLUENCE — leave-one-day-out means of the
    // purchase value: which day, removed, moves the corpus mean the
    // most (the deterministic resampling diagnostic — no RNG, unlike a
    // bootstrap). Scale shape: one hash aggregate shrinks the stream
    // to O(days); the global totals broadcast back, and every LOO mean
    // is a closed-form over exact integers — (S - s_d)/(N - n_d) in
    // cents — divided once.
    "rel_jackknife_mean" -> ((s, dir) => {
      val d = events(s, dir).where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("nd"),
          sum(round(col("value") * 100).cast("long")).as("sd"))
      val tot = d.agg(sum(col("nd")).as("n"), sum(col("sd")).as("s"))
      val theta = col("s").cast("double") / 100.0 / col("n").cast("double")
      val loo = (col("s") - col("sd")).cast("double") / 100.0 /
        (col("n") - col("nd")).cast("double")
      d.crossJoin(broadcast(tot))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("nd"), round(loo, 6).as("mean_loo"),
          round(theta - loo, 6).as("influence"))
    }),

    // SEASONAL-NAIVE FORECAST BACKTEST — forecast each hour's count
    // per event type with the same hour yesterday (lag 24), score
    // MAE/RMSE per type: the baseline every real forecaster must
    // beat, and the backtest harness shape (align by key+lag, score
    // residuals). Scale: the stream shrinks to O(types × hours) in
    // one aggregate; the lag is a type-PARTITIONED window (distributed
    // by key, never global); residual moments stay exact (|e| long,
    // e² decimal(38,0)) until the per-type division.
    "rel_snaive_backtest" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hr")
      val h = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      h.select(col("event_type"), col("cnt"),
          lag(col("cnt"), 24).over(w).as("fc"))
        .where(col("fc").isNotNull)
        .select(col("event_type"), (col("cnt") - col("fc")).as("e"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(abs(col("e"))).as("sae"),
          sum(col("e").cast("decimal(38,0)") * col("e")).as("sse"))
        .select(col("event_type"), col("n"),
          round(col("sae").cast("double") / col("n").cast("double"), 6)
            .as("mae"),
          round(sqrt(col("sse").cast("double") /
            col("n").cast("double")), 6).as("rmse"))
    }),

    // PSI DRIFT — Population Stability Index of the value distribution
    // per event type, first half of the corpus (by time) as reference
    // vs second half as current: the standard feature-drift gate in
    // front of a model retrain. Buckets are the deterministic
    // power-of-two bit-length bins (pure integer arithmetic — the
    // stream_quantile_sketch discipline, never a float edge);
    // Laplace-smoothed so empty cells stay finite; per-bucket terms
    // round once to 6 and sum as exact decimal(38,6), so the ≤64-term
    // sum is order-independent. One data-sized aggregate, one tiny
    // per-type totals broadcast: two shuffles total.
    "rel_psi_drift" -> ((s, dir) => {
      val ts = unix_micros(col("ts"))
      val mid = events(s, dir)
        .agg(min(ts).as("mn"), max(ts).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid"))
      val b = events(s, dir).crossJoin(broadcast(mid))
        .select(col("event_type"),
          length(bin(round(col("value") * 100).cast("long")))
            .as("bucket"),
          (ts < col("mid")).as("ref"))
        .groupBy("event_type", "bucket")
        .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("ref"), 1L).otherwise(0L)).as("cc"))
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
    }),

    // ONE-WAY ANOVA — F-test of equal mean value across ALL event
    // types at once (the k-group generalization of rel_welch_ttest).
    // One map-side-combined aggregate shrinks the stream to k=5 moment
    // rows (n, Σx, Σx² — exact cents / decimal(38,0)); the per-group
    // SSB/SSW contributions are each rounded ONCE to 6 and summed as
    // exact decimal(38,6) so the k-term fold is order-independent;
    // F is a literal formula over the single assembled row.
    "rel_anova_f" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val g = events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
          sum(d38(col("c")) * col("c")).as("qg"))
        .localCheckpoint(false) // feeds the fold AND the grand totals
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"),
        count(lit(1)).as("k"))
      // per-group terms in VALUE units (cents² / 1e4), rounded then
      // exact-summed: ssb_g = sg²/ng (centered later), ssw_g = qg - sg²/ng
      val sg2ng = (col("sg").cast("double") / 100.0) *
        (col("sg").cast("double") / 100.0) / col("ng").cast("double")
      val folded = g.select(
          round(sg2ng, 6).cast("decimal(38,6)").as("b"),
          round(col("qg").cast("double") / 10000.0 - sg2ng, 6)
            .cast("decimal(38,6)").as("w"))
        .agg(sum(col("b")).as("sb"), sum(col("w")).as("ssw"))
      val grand = (col("st").cast("double") / 100.0) *
        (col("st").cast("double") / 100.0) / col("n").cast("double")
      val ssb = col("sb").cast("double") - grand
      val ssw = col("ssw").cast("double")
      val kd = col("k").cast("double")
      val nd = col("n").cast("double")
      folded.crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          round(ssb, 4).as("ss_between"), round(ssw, 4).as("ss_within"),
          round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 6).as("f_stat"))
    }),

    // CRAMÉR'S V — strength of association between nation and market
    // segment over the customer dimension: the contingency-table
    // effect size (chi² normalized to [0,1]) a data-quality audit
    // reports alongside rel_mutual_info's MI. One hash aggregate to
    // the r×c joint (125 cells); marginals re-aggregate the joint (no
    // second scan) and broadcast back; per-cell (o−e)²/e terms round
    // once to 6 and sum as exact decimal(38,6) — order-independent.
    "rel_cramers_v" -> ((s, dir) => {
      val joint = tbl(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(false)
      val rm = joint.groupBy(col("c_nationkey"))
        .agg(sum(col("o")).as("rt"))
      val cm = joint.groupBy(col("c_mktsegment"))
        .agg(sum(col("o")).as("ct"))
      val tot = joint.agg(sum(col("o")).as("n"),
        countDistinct(col("c_nationkey")).as("r"),
        countDistinct(col("c_mktsegment")).as("c"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      val term = (col("o").cast("double") - e) *
        (col("o").cast("double") - e) / e
      joint.join(broadcast(rm), "c_nationkey")
        .join(broadcast(cm), "c_mktsegment")
        .crossJoin(broadcast(tot))
        .select(col("n"), col("r"), col("c"),
          round(term, 6).cast("decimal(38,6)").as("term"))
        .groupBy(col("n"), col("r"), col("c"))
        .agg(sum(col("term")).as("chi2"))
        .select(col("n"), col("r"), col("c"),
          round(col("chi2").cast("double"), 4).as("chi2"),
          round(sqrt(col("chi2").cast("double") /
            (col("n").cast("double") *
             least(col("r") - 1, col("c") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }),

    // BIGRAM PMI — the collocation detector: top-20 bigrams by
    // pointwise mutual information (min count 5), ln of the joint
    // probability over the product of unigram probabilities. Scale
    // shape: token and bigram streams each shrink to their count
    // tables in one aggregate; the two unigram lookups join on the
    // token hash (size-based broadcast); the top-20 is
    // (pmi desc, bigram asc) through TakeOrderedAndProject — never a
    // global sort. PMI rounds to 6 BEFORE the cut with a bigram
    // tiebreak, so the cut is cross-engine exact.
    "text_bigram_pmi" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val uni = docs.select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 1))
          .as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cw"))
        .localCheckpoint(false)
      val n1 = uni.agg(sum(col("cw")).as("n1"))
      val bg = docs.select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 2))
          .as("bigram"))
        .where(size(split(col("bigram"), " ")) === 2)
        .groupBy("bigram").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
        .localCheckpoint(false)
      val n2 = bg.agg(sum(col("cxy")).as("n2"))
      val p = col("cxy").cast("double") / col("n2").cast("double")
      val px = col("cw_x").cast("double") / col("n1").cast("double")
      val py = col("cw_y").cast("double") / col("n1").cast("double")
      bg.select(col("bigram"), col("cxy"),
          split(col("bigram"), " ").getItem(0).as("w1"),
          split(col("bigram"), " ").getItem(1).as("w2"))
        .join(uni.select(col("w").as("w1"), col("cw").as("cw_x")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("cw_y")), "w2")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("bigram"), col("cxy"),
          round(log(p / (px * py)), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram").asc)
        .limit(20)
    }),

    // STREAMING PSI DRIFT — rel_psi_drift's gate as a live stream: the
    // reference histogram is a BATCH aggregate of the corpus first
    // half; the current histogram is maintained INCREMENTALLY over the
    // streamed second half (complete mode, types × ≤64 bit-length
    // buckets of bounded state — counts are associative, so the
    // unordered replay provably equals the batch histogram and the
    // streaming PSI equals the batch PSI, which IS the oracle). The
    // readout full-outer-joins the two bounded histograms and applies
    // the same smoothed, round-then-exact-sum fold.
    "stream_psi_drift" -> ((s, dir) => {
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
    }),

    // SPEARMAN RANK CORRELATION — quantity vs price over lineitem,
    // the monotone-association twin of rel_regression_per_key's
    // Pearson. Ranks NEVER materialize by sorting rows: each column
    // aggregates to its DISTINCT values, a GlobalScan prefix sum turns
    // per-value counts into tie-AVERAGED ranks (carried doubled so
    // they stay integral — the rel_mann_whitney discipline), and the
    // tiny rank tables hash-join back onto the fact rows. All five
    // Pearson moments accumulate as exact decimal(38,0) = DuckDB's
    // int128; doubles appear only in the final one-row formula.
    "rel_spearman_corr" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val li = tbl(s, dir, "lineitem").select(
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      // One row-sized shuffle instead of two: x's rank table is
      // value-domain-sized (integral quantities), so it broadcasts and
      // its per-row rank terms fold into the SAME groupBy(y) aggregate
      // that y's rank needs anyway — the row stream is shuffled once
      // (by y), where the previous shape re-joined every row against
      // the y-rank table in a second row-sized exchange. All moment
      // sums regroup by y in exact decimal(38,0) integer algebra, so
      // every aggregate equals its per-row original term for term.
      val dx = li.groupBy(col("x").as("v")).agg(count(lit(1)).as("cnt"))
      val rx = graft.plans.GlobalScan.runningSum(dx, "cnt", "v" -> false)
        .select(col("v").as("x"),
          (lit(2L) * col("running") - col("cnt") + 1L).as("r2x"))
      val byY = li.join(broadcast(rx), "x")
        .groupBy(col("y"))
        .agg(count(lit(1)).as("cnt"),
          sum(d38(col("r2x"))).as("sx_y"),
          sum(d38(col("r2x")) * col("r2x")).as("sxx_y"))
      val ry = graft.plans.GlobalScan.runningSum(byY, "cnt", "y" -> false)
        .select(col("cnt"), col("sx_y"), col("sxx_y"),
          (lit(2L) * col("running") - col("cnt") + 1L).as("r2y"))
      val m = ry.agg(sum(col("cnt")).as("n"),
        sum(col("sx_y")).as("sx"),
        sum(d38(col("cnt")) * col("r2y")).as("sy"),
        sum(col("sxx_y")).as("sxx"),
        sum(d38(col("cnt")) * col("r2y") * col("r2y")).as("syy"),
        sum(d38(col("r2y")) * col("sx_y")).as("sxy"))
      val nd = col("n").cast("double")
      val cov = nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val vx = nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = nd * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      m.select(col("n"), round(cov / sqrt(vx * vy), 6).as("spearman"))
    }),

    // MANN-WHITNEY U — the nonparametric A/B test (purchase vs click
    // values), the rank-based twin of rel_abtest_report's z-test.
    // Scale-first shape: ranks never materialize per row — the stream
    // aggregates to DISTINCT values (hash agg), the custom GlobalScan
    // prefix sum turns per-value counts into "count below" (two-pass
    // distributed, no single-partition window), and the tie-averaged
    // rank sum folds out of one aggregate in EXACT integer arithmetic:
    // avg-rank of a tied value = cumBelow + (n+1)/2, carried doubled
    // (rank2 = 2*run - n + 1) so everything stays integral; sums widen
    // to decimal(38,0) = DuckDB's int128, so no overflow divergence at
    // any scale. U, mu, sigma (with the tie correction) and z are
    // literal formulas over the one aggregate row.
    "rel_mann_whitney" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
        .select(col("value").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("ga"))
        .groupBy("v")
        .agg(sum(col("ga")).as("na"), count(lit(1)).as("n"))
      val r = graft.plans.GlobalScan.runningSum(d, "n", "v" -> false)
      val a = r.agg(
        sum(col("na")).as("n1"),
        sum(col("n") - col("na")).as("n2"),
        sum(d38(col("na")) *
          d38(lit(2L) * col("running") - col("n") + lit(1L))).as("ra2"),
        sum(d38(col("n")) * d38(col("n")) * d38(col("n")) -
          d38(col("n"))).as("tsum"),
        sum(col("n")).as("nn"))
      val u1x2 = col("ra2") - d38(col("n1")) * d38(col("n1") + 1)
      val nnD = col("nn").cast("double")
      val sigma2 = col("n1").cast("double") * col("n2").cast("double") /
        12.0 * ((nnD + 1.0) -
          col("tsum").cast("double") / (nnD * (nnD - 1.0)))
      a.select(col("n1"), col("n2"),
        (u1x2.cast("double") / 2.0).as("u1"),
        round((u1x2 - d38(col("n1")) * d38(col("n2"))).cast("double") /
          (lit(2.0) * sqrt(sigma2)), 6).as("z"))
    }),

    // AUTOCORRELATION of the hourly event-count series at lags 1..24 —
    // the seasonality screen. The only data-sized work is ONE hash
    // aggregate (events → per-hour counts); the series is O(hours in
    // range), independent of data volume, so the lag self-join and the
    // moment algebra run on a frame thousands of rows long at ANY
    // scale. r_k is computed in EXACT integer algebra (multiply the
    // centered covariance through by N² to clear the mean: N²·Σxa·xb −
    // N·S·(Σxa+Σxb) + n_k·S² over N²·Σx² − N·S², every sum a
    // decimal(38,0) = int128), then one double division and one round —
    // no order-sensitive float accumulation anywhere. Hour gaps are
    // handled by joining on the hour INDEX (h + k), not row position:
    // a missing hour simply contributes no pair, same both engines.
    "rel_autocorrelation" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).as("x"))
        .localCheckpoint(false) // feeds stats, both join sides
      val stats = hr.agg(sum(col("x")).as("s"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        count(lit(1)).as("nh"))
      val lags = s.range(1, 25).select(col("id").as("k"))
      val pairs = hr.select(col("h"), col("x").as("xa"))
        .crossJoin(broadcast(lags))
        .select((col("h") + col("k")).as("hb"), col("k"), col("xa"))
        .join(hr.select(col("h").as("hb"), col("x").as("xb")), "hb")
      val perLag = pairs.groupBy("k").agg(
        sum(d38(col("xa")) * d38(col("xb"))).as("sab"),
        sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
        count(lit(1)).as("n_pairs"))
      val n2 = d38(col("nh")) * d38(col("nh"))
      val num = n2 * col("sab") -
        d38(col("nh")) * d38(col("s")) * d38(col("sa") + col("sb")) +
        d38(col("n_pairs")) * d38(col("s")) * d38(col("s"))
      val den = n2 * col("sxx") -
        d38(col("nh")) * d38(col("s")) * d38(col("s"))
      perLag.crossJoin(broadcast(stats))
        .select(col("k"), col("n_pairs"),
          round(num.cast("double") / den.cast("double"), 6).as("acf"))
    }),

    // Per-language corpus token entropy — the diversity screen a
    // training-data mix needs next to text_domain_mix's weights.
    // Shannon entropy over the unigram distribution, computed from the
    // COUNT-OF-COUNTS histogram so the order-sensitive float sum
    // disappears: H = log2(N) − (Σ_c m_c·c·log2(c))/N, and each
    // distinct count c contributes ONE term — round(c·log2(c), 6) as an
    // exact decimal, times the integer multiplicity — so the per-lang
    // sum is exact decimal arithmetic both engines agree on bit-for-bit
    // (the only libm call, log2(c), is rounded to 6 before it enters
    // the sum; c·log2(c) stays far under decimal(28,6)'s integer
    // range at any realistic per-token count). Two hash aggregates,
    // both shuffling on shrinking keys: (lang, token) then (lang, c).
    "text_token_entropy" -> ((s, dir) => {
      val toks = tbl(s, dir, "documents")
        .select(col("lang"), explode(graft.ops.TextOps.tokenize(
          graft.ops.TextOps.scrub(col("text")))).as("token"))
        .where(length(col("token")) > 0)
      val hist = toks.groupBy("lang", "token")
        .agg(count(lit(1)).as("c"))
        .groupBy("lang", "c").agg(count(lit(1)).as("m"))
      val term = round(col("c").cast("double") *
          log2(col("c").cast("double")), 6).cast("decimal(28,6)") *
        col("m").cast("decimal(10,0)")
      hist.groupBy("lang").agg(
          sum(col("m") * col("c")).as("n_tokens"),
          sum(col("m")).as("n_distinct"),
          sum(term).as("sclogc"))
        .select(col("lang"), col("n_tokens"), col("n_distinct"),
          round(log2(col("n_tokens").cast("double")) -
            col("sclogc").cast("double") /
              col("n_tokens").cast("double"), 6).as("entropy"))
    }),

    // GINI COEFFICIENT of customer revenue concentration — the
    // inequality metric behind "top 1% of customers drive X%" claims.
    // Written in the textbook global-window form (row_number over the
    // total revenue order) and rewritten session-wide to the
    // distributed GlobalRank — ranks come from a two-pass
    // range-partitioned sort, never a single-partition WindowExec.
    // Money in cents as exact longs; Σ i·x_i widens to decimal(38,0)
    // (= DuckDB's int128), so Gini = (2Σi·x − (n+1)S) / (nS) is a
    // literal formula over one exactly-agreed aggregate row.
    "rel_gini_revenue" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val cust = tbl(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents"), col("o_custkey"))
      cust.withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("total_cents"),
          sum(d38(col("i")) * d38(col("cents"))).as("sic"))
        .select(col("n_customers"), col("total_cents"),
          round((lit(2).cast("decimal(38,0)") * col("sic") -
              d38(col("n_customers") + 1) * d38(col("total_cents")))
              .cast("double") /
            (d38(col("n_customers")) * d38(col("total_cents")))
              .cast("double"), 6).as("gini"))
    }),

    // ZIPF-LAW FIT over the corpus token frequencies — the classic
    // corpus health check (natural text fits slope ≈ −1). Frequency
    // rank comes from the same distributed GlobalRank rewrite (global
    // row_number over (count DESC, token)); the least-squares fit of
    // log2(freq) on log2(rank) runs over per-TERM decimal terms:
    // each x, y is rounded to 6 once (the only libm entry), so Σx, Σy,
    // Σxy, Σx², Σy² are exact decimal sums both engines agree on —
    // slope/intercept/r² are then closed-form doubles over five
    // scalars. One token hash agg + one rank sort; no per-row floats.
    "text_zipf_fit" -> ((s, dir) => {
      val tf = tbl(s, dir, "documents")
        .select(explode(graft.ops.TextOps.tokenize(
          graft.ops.TextOps.scrub(col("text")))).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("token"))
      val xy = tf.withColumn("r", row_number().over(w).cast("long"))
        .select(
          round(log2(col("r").cast("double")), 6)
            .cast("decimal(12,6)").as("x"),
          round(log2(col("f").cast("double")), 6)
            .cast("decimal(12,6)").as("y"))
      val agg = xy.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n_terms").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
      val icept = (sy * sxx - sx * sxy) / (nD * sxx - sx * sx)
      val r2num = (nD * sxy - sx * sy) * (nD * sxy - sx * sy)
      val r2den = (nD * sxx - sx * sx) * (nD * syy - sy * sy)
      agg.select(col("n_terms"), round(slope, 6).as("slope"),
        round(icept, 6).as("intercept"),
        round(r2num / r2den, 6).as("r2"))
    }),

    // HLL sketch INTERSECTION estimate via inclusion-exclusion —
    // |A∩B| ≈ est(A) + est(B) − est(A∪B) — with the same accuracy-
    // contract shape as rel_hll_union_bounded: the driver re-checks
    // every round that the sketch route lands within the bound of the
    // exact overlap (purchase ∩ click user sets). Inclusion-exclusion
    // amplifies the union's relative error into the (smaller)
    // intersection, hence the wider 15% + 100 bound. The exact side is
    // a distinct-distinct semi-ish join on user_id; the sketch side
    // never shuffles more than two 4 KB sketches.
    "rel_hll_intersect_bounded" -> ((s, dir) => {
      val ev = events(s, dir)
        .where(col("event_type").isin("purchase", "click"))
      val ests = ev.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(sum(expr("hll_sketch_estimate(sk)")).as("sum_est"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"))
      val exact = ev.where(col("event_type") === "purchase")
        .select("user_id").distinct()
        .join(ev.where(col("event_type") === "click")
          .select("user_id").distinct(), "user_id")
        .agg(count(lit(1)).as("exact_in"))
      ests.crossJoin(broadcast(exact))
        .select(col("exact_in"),
          (abs(col("sum_est") - col("est_union") - col("exact_in")) <=
            col("exact_in").cast("double") * 0.15 + 100.0)
            .cast("long").as("within_bound"))
    }),

    "rel_stratified_sample" -> ((s, dir) => {
      val bucket = conv(substring(md5(col("event_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
      events(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"),
          bucket.as("bucket"))
        .withColumn("rate",
          when(col("event_type") === "click", 20)
            .when(col("event_type") === "view", 10).otherwise(5))
        .where(col("bucket") < col("rate"))
        .select(col("event_id"), col("event_type"), col("user_id"))
    }),

    // WEIGHTED SAMPLE WITHOUT REPLACEMENT (priority / sequential-Poisson
    // sampling, Ohlsson; Duffield et al.) — the data-mixing primitive:
    // each order draws priority = w/u with u uniform from its md5, and
    // the global top-k by priority IS a weighted sample without
    // replacement (inclusion probability increases with weight). The
    // arithmetic is EXACT integers end to end — u = h/2^32 from the
    // first 8 md5 hex digits (h=0 guarded to 1), so priority =
    // (w_cents * 2^32) div h with no float anywhere and the oracle
    // reproduces the sample bit-for-bit. The plan is the O(k)-per-
    // partition TakeOrderedAndProject — never a global sort: at 100 TB
    // each task keeps its local top-100 and the driver merges
    // partitions × k rows.
    "rel_priority_sample" -> ((s, dir) => {
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
        .orderBy(col("priority").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // PRIORITY-SAMPLING SUBSET-SUM ESTIMATOR (Duffield-Lund-Thorup):
    // the reason a pipeline keeps priority samples — estimate the TOTAL
    // weight from k rows: with τ = the (k+1)-th priority, ŵ_i =
    // max(w_i, τ) is the Horvitz-Thompson estimate under inclusion
    // probability min(1, w_i/τ), and Σŵ is unbiased for Σw (priority
    // w/u is already weight-scaled: u = h/2^32 cancels the 2^32) —
    // integers end to end, so the oracle reproduces the estimate
    // bit-for-bit; the exact total rides along as accuracy evidence.
    // Two TakeOrderedAndProject passes (k and k+1 rows), never a sort.
    "rel_priority_sample_est" -> ((s, dir) => {
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      val pri = tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
      val top101 = pri
        .orderBy(col("priority").desc, col("o_orderkey").asc).limit(101)
      // τ = the smallest of the k+1 highest priorities = the (k+1)-th.
      // Sub-k guard (DLT definition): with n <= k rows EVERY row is
      // sampled with probability 1 and ŵ = w exactly — τ is 0, not a
      // retained row's own priority (which would overestimate via
      // max(w, τ)). greatest(w, 0) = w for the non-negative w_cents,
      // so τ=0 makes the estimator collapse to the exact sum.
      val tau = top101.agg(
        when(count(lit(1)) <= 100, lit(0L))
          .otherwise(min(col("priority"))).as("tau"))
      val exact = pri.agg(sum(col("w_cents")).as("exact_total"))
      top101
        .orderBy(col("priority").desc, col("o_orderkey").asc).limit(100)
        .crossJoin(broadcast(tau))
        .select(col("w_cents"),
          greatest(col("w_cents"), col("tau")).as("w_hat"), col("tau"))
        .groupBy(col("tau"))
        .agg(sum(col("w_hat")).as("est_total"))
        .crossJoin(broadcast(exact))
        .select(col("tau"), col("est_total"), col("exact_total"))
    }),

    // WEIGHTED QUANTILES FROM A PRIORITY SAMPLE — the SKETCHED sibling
    // of rel_weighted_quantiles (which narrows to the EXACT answer via
    // Selection.weightedQuantile's multi-pass selection): what the DLT
    // estimator is FOR — revenue-weighted percentiles ("the median
    // dollar": the order price p such that orders totaling half the
    // spend are priced <= p) served from a bounded 256-row priority
    // sample per segment, never a full sort of the weights. est_rank(x)
    // = Σ_{retained, v<=x} max(w, τ) is the Horvitz-Thompson subset-sum
    // estimate, so the weighted p50/p95 fall out of one cumulative
    // window over <= 256 retained rows; τ carries the sub-k guard
    // (τ=0 ⇒ exact when a segment has <= 256 orders). Integer
    // arithmetic end to end — the oracle reproduces the sample AND the
    // served quantiles bit-for-bit. Scale shape: the rn <= k+1 filter
    // under a partitioned row_number plans WindowGroupLimit (each task
    // keeps its local top-257 per segment before the shuffle); the
    // cumulative window runs over segments × 256 rows — model-sized.
    "rel_weighted_quantile_sample" -> ((s, dir) => {
      val k = 256
      val h = greatest(conv(substring(md5(col("o_orderkey").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(1L))
      val pri = tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("seg"), col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) AS bigint)").as("w_cents"),
          h.as("h"))
        .select(col("seg"), col("o_orderkey"), col("w_cents"),
          expr("(w_cents * 4294967296) div h").as("priority"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("seg")
        .orderBy(col("priority").desc, col("o_orderkey").asc)
      val top = pri.withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= k + 1)
      val tau = top.groupBy("seg").agg(
        when(count(lit(1)) <= k, lit(0L))
          .otherwise(min(col("priority"))).as("tau"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy("seg").orderBy(col("w_cents"), col("o_orderkey"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("seg")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      val exact = tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("seg"))
        .agg(sum(expr("cast(round(o_totalprice * 100) AS bigint)"))
          .as("exact_total"))
      top.where(col("rn") <= k)
        .join(broadcast(tau), "seg")
        .select(col("seg"), col("w_cents"), col("o_orderkey"),
          greatest(col("w_cents"), col("tau")).as("w_hat"))
        .select(col("seg"), col("w_cents"),
          sum(col("w_hat")).over(wCum).as("cum"),
          sum(col("w_hat")).over(wAll).as("est_total"))
        .groupBy(col("seg"), col("est_total"))
        .agg(count(lit(1)).as("n_kept"),
          min(when(col("cum") * 2 >= col("est_total"), col("w_cents")))
            .as("p50w_cents"),
          min(when(col("cum") * 20 >= col("est_total") * 19,
            col("w_cents"))).as("p95w_cents"))
        .join(broadcast(exact), "seg")
        .select(col("seg"), col("n_kept"), col("est_total"),
          col("exact_total"), col("p50w_cents"), col("p95w_cents"))
    }),

    // Peak concurrency by sweep line: each event opens a 5-minute
    // interval; +1/-1 deltas sorted by time run through the custom
    // GlobalScan operator (distributed prefix sum — range-partitioned
    // two-pass, per-partition subtotals to the driver, NO
    // single-partition WindowExec like the textbook
    // `sum() OVER (ORDER BY ...)` would plan) and the peak + its first
    // timestamp fall out of one aggregate. Ends sort before starts at
    // the same instant (delta asc), so intervals are half-open [s, e).
    "rel_peak_concurrency" -> ((s, dir) => {
      val ev = events(s, dir).select(unix_micros(col("ts")).as("t"))
      val deltas = ev.select(col("t"), lit(1L).as("delta"))
        .unionAll(ev.select((col("t") + lit(300000000L)).as("t"),
          lit(-1L).as("delta")))
      val run = graft.plans.GlobalScan.runningSum(deltas, "delta",
        "t" -> false, "delta" -> false)
        .localCheckpoint(false) // feeds the peak agg + the join back
      val peak = run.agg(max(col("running")).as("peak"))
      // groupBy (not a global agg): on an empty/filtered-out input this
      // yields ZERO rows, matching the oracle's GROUP BY — a global agg
      // would emit one all-NULL row the SQL side doesn't
      run.join(broadcast(peak), col("running") === col("peak"))
        .groupBy(col("peak"))
        .agg(min(col("t")).as("first_t_us"))
        .select(col("peak"), col("first_t_us"))
    }),

    // Cumulative distinct users over time — the growth-analytics
    // "cumulative uniques" curve, composed scale-first: a PARTITIONED
    // (hence distributed) first-occurrence window marks each user's
    // earliest event with delta=1, and the GlobalScan prefix sum turns
    // the deltas into the running distinct count under the (t, event_id)
    // total order. Running COUNT DISTINCT has no shuffle-free window
    // form; this two-stage shape is how it scales.
    "rel_cumulative_users" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val firsts = ev.withColumn("rn", row_number().over(w))
        .select(col("t"), col("event_id"),
          when(col("rn") === 1, 1L).otherwise(0L).as("delta"))
      graft.plans.GlobalScan.runningSum(firsts, "delta",
        "t" -> false, "event_id" -> false)
        .select(col("event_id"), col("running").as("cum_users"))
    }),

    // Running revenue, written in the TEXTBOOK single-partition window
    // form — and rewritten to the distributed GlobalScan by
    // GlobalScanRule (injected by GraftExtensions.inject, which builds
    // every Bench/Verify/Explain/test session), so the rule's value parity
    // is proven by the oracle gate itself, not just specs. On a session
    // without the extensions the query still runs correctly as a plain
    // window. Cents as long: exact prefix sums, no float
    // order-sensitivity. PlanAuditSpec pins that the executed plan
    // contains GlobalScan and no Window.
    "rel_running_revenue" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("running_cents", sum(col("cents")).over(w))
    }),

    // The remaining prefix-aggregate frames over a global order — each in
    // the textbook single-partition window form, each rewritten by
    // GlobalScanRule into the two-pass distributed scan (PlanAuditSpec's
    // census pins it). Value in milli-units as long (exact integers end
    // to end); non-'error' gate injects real NULLs so the SQL null
    // semantics (counts never null, min/max/avg null until the first
    // non-null) are exercised, not just typed.

    // Running non-null count: how many valued (non-error) events so far.
    "rel_running_count" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("n_valued", count(col("v")).over(prefixWindow))
        .select(col("event_id"), col("n_valued"))),

    // Running row count — count(*), the event's 1-based stream position.
    "rel_running_row_count" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("n_events", count(lit(1)).over(prefixWindow))
        .select(col("event_id"), col("n_events"))),

    // Running maximum — the high-water mark of the value stream.
    "rel_running_high_water" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("high_water", max(col("v")).over(prefixWindow))
        .select(col("event_id"), col("high_water"))),

    // Running minimum — the low-water mark.
    "rel_running_low_water" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("low_water", min(col("v")).over(prefixWindow))
        .select(col("event_id"), col("low_water"))),

    // Running mean of the valued events. The scan divides the EXACT long
    // sum by the exact count at emit, so the double is a function of the
    // prefix content, not of evaluation order. Rounded to 6 decimals for
    // the cross-engine compare only: DuckDB's avg(bigint) sums in
    // hugeint and divides at a different precision — last-ulp noise.
    "rel_running_avg" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("avg_v",
          round(avg(col("v")).over(prefixWindow), 6))
        .select(col("event_id"), col("avg_v"))),

    // SEVERAL running aggregates in ONE window — the everyday dashboard
    // shape, written as one select so the analyzer places all three in a
    // single multi-expression Window node. GlobalScanRule fuses that
    // node into ONE GlobalScan computing every aggregate in a single
    // pair of passes over one persisted input (census-pinned: one
    // GlobalScan, one exchange, no Window).
    "rel_running_dashboard" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          count(col("v")).over(prefixWindow).as("run_n"),
          max(col("v")).over(prefixWindow).as("run_max"))),

    // Running sum over an INTEGER column — the common analyzed shape
    // `Sum(Cast(int -> long))`. GlobalScanRule widens p_size below the
    // scan, so the everyday `sum(int_col) OVER (ORDER BY ...)` plans as
    // the distributed two-pass scan too, not a single-partition window
    // (census-pinned). Result type stays the native window's long.
    "rel_running_size" -> ((s, dir) =>
      tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size"))
        .withColumn("running_size", sum(col("p_size")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("p_partkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))),

    // Running minimum over the same INTEGER column — exercises the scan's
    // result-narrowing path: min(int) is int, so the rewrite casts the
    // scan's long back down and the output schema is identical to the
    // native window's.
    "rel_running_size_floor" -> ((s, dir) =>
      tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size"))
        .withColumn("floor_size", min(col("p_size")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("p_partkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))),

    // The DEFAULT window frame — `agg(v) OVER (ORDER BY sec)` with no
    // frame clause, which the analyzer resolves to RANGE UNBOUNDED
    // PRECEDING .. CURRENT ROW: every peer (order tie — here, all events
    // in one second) carries the tie GROUP's total. GlobalScanRule
    // rewrites this shape too (peer-group emission + driver boundary
    // chain for groups spanning partitions); both aggregates fuse into
    // one scan over one range sort. Census-pinned: one GlobalScan, no
    // Window.
    "rel_running_range_total" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("sec", floor(col("t") / 1000000L).cast("long"))
        .select(col("event_id"), col("sec"),
          sum(col("v")).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sec"))).as("cum_total"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sec"))).as("n_thru_sec"))),

    // Event-time WATERMARK by arrival order: running max over the raw
    // TIMESTAMP column (events arrive out of event-time order; event_id
    // is the arrival proxy). GlobalScan's generic-extrema path — boxed
    // values under the type's interpreted ordering, no long arithmetic —
    // so the shape every streaming engine tracks per-partition plans
    // distributed here too. The max is taken over the timestamp itself;
    // only the OUTPUT is converted to micros for cross-engine compare
    // (ns->us truncation is monotone, so max commutes with it).
    "rel_running_watermark" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("ts"))
        .withColumn("hwm", max(col("ts")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("event_id"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("event_id"), unix_micros(col("hwm")).as("hwm_us"))),

    // Running peak price over the raw DOUBLE column — the high-water
    // mark a ledger keeps. Same generic path (a double prefix-MAX only
    // compares, so unlike a double prefix-sum it is order-insensitive
    // and exactly reproducible cross-engine).
    "rel_running_peak_price" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("peak_price", max(col("o_totalprice")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("peak_price"))),

    // Row-to-row delta over the global event order — the textbook
    // un-partitioned lag(1), rewritten by GlobalShiftRule into the
    // boundary-row GlobalShift operator (each partition receives the |n|
    // values adjacent to its range boundary; no single-partition stage).
    // Census-pinned in PlanAuditSpec.
    "rel_running_delta" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("prev_v", lag(col("v"), 1).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("prev_v"),
          (col("v") - col("prev_v")).as("delta"))),

    // Time to the NEXT event — global lead(1), same operator family
    // (boundary values flow backward instead of forward).
    "rel_next_event_gap" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("next_t", lead(col("t"), 1).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"),
          (col("next_t") - col("t")).as("gap_us"))),

    // Previous VALID reading — `lag(v, 1) IGNORE NULLS`: the most recent
    // non-null value strictly before each event (error events carry null
    // v). GlobalShiftRule plans it distributed: the boundary ships each
    // partition's last NON-NULL value and the ring advances only on
    // non-nulls, so arbitrarily long error runs cost nothing.
    "rel_prev_valid_value" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("prev_valid", lag(col("v"), 1, null, true).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("prev_valid"))),

    // Next VALID reading — `lead(v, 1) IGNORE NULLS`. A forward scan
    // would queue an unbounded run of null-valued rows, so the rule
    // plans this as ignore-nulls LAG over the REVERSED order ("next
    // non-null in the user's order" = "previous non-null in the reversed
    // order") — same O(n) ring, opposite direction. Census-pinned.
    "rel_next_valid_value" -> ((s, dir) =>
      valuedEvents(s, dir)
        .withColumn("next_valid", lead(col("v"), 1, null, true).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("t"), col("event_id"))))
        .select(col("event_id"), col("next_valid"))),

    // Trailing 100-event moving sum + count over the global event order —
    // `ROWS BETWEEN 99 PRECEDING AND CURRENT ROW` with no PARTITION BY,
    // the bounded-frame window Spark plans as a single-partition
    // WindowExec. GlobalFrameRule rewrites it into the boundary-seeded
    // GlobalFrame operator: each partition receives the 99 value rows
    // adjacent to its range boundary and slides a ring buffer — both
    // aggregates O(1)/row (enter/exit deltas), both fused into ONE node.
    // Census-pinned in PlanAuditSpec.
    "rel_frame_moving_sum" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(slidingWindow(99)).as("mov_sum"),
          count(col("v")).over(slidingWindow(99)).as("mov_n"))),

    // Trailing 50-event min/max/avg in one window — the fused sliding
    // dashboard. Extrema ride monotonic deques (amortized O(1)/row);
    // avg re-folds the 50-row frame in order for native Double parity.
    // Rounded to 6 decimals for the cross-engine compare only: DuckDB
    // averages bigints through exact hugeint division, Spark through
    // Double accumulation — last-ulp noise.
    "rel_frame_trailing_stats" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          min(col("v")).over(slidingWindow(49)).as("mov_min"),
          max(col("v")).over(slidingWindow(49)).as("mov_max"),
          round(avg(col("v")).over(slidingWindow(49)), 6).as("mov_avg"))),

    // Running total AND trailing peak in ONE window — the everyday mixed
    // dashboard (prefix aggregate + bounded frame over the same order).
    // The analyzer groups both into one Window node (same partition/order
    // spec, different frames); GlobalFrameRule splits it into GlobalFrame
    // stacked on GlobalScan over ONE shared range sort (both operators
    // are 1:1 and partitioning/order-preserving, so EnsureRequirements
    // inserts nothing between them). Census-pinned: one exchange, one
    // sort, no Window.
    "rel_frame_mixed_dashboard" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          max(col("v")).over(slidingWindow(99)).as("mov_peak"))),

    // Bounded VALUE-RANGE frame over the global event timeline —
    // trailing 5-second totals (`RANGE BETWEEN 5s PRECEDING AND CURRENT
    // ROW` over unix micros). Frame membership is decided by KEY
    // DISTANCE, not row position (ties share their frame, sparse regions
    // shrink it), which is exactly what GlobalFrame's row splice cannot
    // express: GlobalRangeRule plans the key-spliced GlobalRange
    // operator instead — boundary rows within 5 s of each partition's
    // edge key, spliced on the driver, no single-partition stage.
    // Census-pinned. Results depend only on t, so ties keep the output
    // deterministic.
    "rel_range_trailing_global" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
        .rangeBetween(-5000000L, 0L)
      valuedEvents(s, dir)
        .select(col("event_id"),
          sum(col("v")).over(w).as("rev_5s"),
          count(col("v")).over(w).as("n_5s"),
          max(col("v")).over(w).as("peak_5s"))
    }),

    // Interval value-RANGE frame DIRECTLY over the timestamp ORDER BY —
    // `RANGE BETWEEN INTERVAL '5' SECOND PRECEDING AND CURRENT ROW`
    // with no manual epoch conversion: GlobalRangeRule normalizes the
    // day-time interval bound to micros and keeps the timestamp key in
    // its physical long-micros form (a seconds cast would destroy
    // sub-second precision). Same key-spliced plan as
    // rel_range_trailing_global; frames keyed by instant distance.
    "rel_range_interval_global" -> ((s, dir) =>
      valuedEventsTs(s, dir).selectExpr("event_id",
        "sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '5' SECOND " +
          "PRECEDING AND CURRENT ROW) AS rev_5s",
        "count(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '5' SECOND " +
          "PRECEDING AND CURRENT ROW) AS n_5s")),

    // Mixed window WITH a value-range member: rank + running tie-group
    // total + trailing 5-second window over ONE single-key ORDER BY.
    // GlobalWindowRule stacks GlobalTies + GlobalScan + GlobalRange on
    // one shared range sort. Every function depends only on t, so ties
    // keep the output deterministic. Census-pinned.
    "rel_window_mixed_range" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          rank().over(w).cast("long").as("rnk"),
          sum(col("v")).over(w).as("run_total"),
          sum(col("v")).over(w.rangeBetween(-5000000L, 0L)).as("rev_5s"),
          count(col("v")).over(w.rangeBetween(-5000000L, 0L)).as("n_5s"))
    }),

    // MIXED-FAMILY global window — SIX window-function families in ONE
    // un-partitioned ORDER BY: row_number (rank family), rank (ties),
    // running sum (scan), lag (shift), first_value (edge) and a moving
    // average (frame). The analyzer puts all six expressions in one
    // Window node; GlobalWindowRule composes the family operators onto
    // ONE shared range sort — each member is a 1:1 partitioning/order-
    // preserving node, so EnsureRequirements plans exactly one exchange
    // + sort under the whole stack and NO single-partition stage exists.
    // Census-pinned.
    "rel_window_mixed_global" -> ((s, dir) => {
      val base = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("event_id"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          row_number().over(base).cast("long").as("rn"),
          rank().over(base).cast("long").as("rnk"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          lag(col("v"), 1).over(base).as("prev_v"),
          first(col("v")).over(prefixWindow).as("first_v"),
          round(avg(col("v")).over(slidingWindow(3)), 6).as("mov_avg"))
    }),

    // The COMPLETE mixed stack — all eight families in ONE un-partitioned
    // window, including the two REVERSED-order members (cume_dist and
    // ignore-nulls lead) whose presence used to force the whole combined
    // shape back to single-partition WindowExec. GlobalWindowRule now
    // stacks them over their own shared reversed sort ABOVE the forward
    // stack: two exchanges + two sorts total, full parallelism in every
    // stage, no WindowExec anywhere (census-pinned in PlanAuditSpec).
    "rel_window_mixed_full" -> ((s, dir) => {
      val base = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("event_id"))
      valuedEvents(s, dir)
        .select(col("event_id"),
          row_number().over(base).cast("long").as("rn"),
          rank().over(base).cast("long").as("rnk"),
          round(cume_dist().over(base), 9).as("cd"),
          sum(col("v")).over(prefixWindow).as("run_total"),
          lag(col("v"), 1).over(base).as("prev_v"),
          lead(col("v"), 1, null, true).over(base).as("next_valid"),
          first(col("v")).over(prefixWindow).as("first_v"),
          round(avg(col("v")).over(slidingWindow(3)), 6).as("mov_avg"))
    }),

    // A/B EXPERIMENT REPORT — deterministic md5 arm assignment (the
    // reproducible randomization every experimentation platform uses),
    // per-arm conversion, and the pooled two-proportion z statistic in
    // closed form from EXACT counts (one user-keyed aggregate, one
    // 4-long final fold; the only floating arithmetic is the final
    // z formula, same literal order both engines, rounded).
    "rel_abtest_report" -> ((s, dir) => {
      val arm = (conv(substring(md5(col("user_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 2).as("arm")
      val peruser = events(s, dir).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("cv"))
        .select(col("user_id"), col("cv"), arm)
      val a = peruser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("cv")).otherwise(0)).cast("long")
          .as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("cv")).otherwise(0)).cast("long")
          .as("c1"))
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pp = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val se = sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n0").cast("double") +
          lit(1.0) / col("n1").cast("double")))
      // degenerate pooled variance (all users converted, or none): the
      // z statistic is undefined — NULL, not a 0/0 ANSI error
      val z = when(se > lit(0.0), (p0 - p1) / se)
      a.select(col("n0"), col("c0"), col("n1"), col("c1"),
        round(p0, 6).as("rate0"), round(p1, 6).as("rate1"),
        round(z, 6).as("z"))
    }),

    // DECILE LIFT / GAINS TABLE — the model-evaluation report: score
    // every user (here: activity), cut the population into score
    // deciles (global ntile — GlobalTies, distributed), and report
    // per-decile conversion plus the cumulative captured-purchasers
    // curve. Two global windows, both rewritten (the ntile over all
    // users; the 10-row cumulative over deciles); everything else hash
    // aggregates.
    "rel_decile_lift" -> ((s, dir) => {
      val peruser = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchaser"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("user_id"))
      val dec = peruser
        .withColumn("decile", ntile(10).over(w).cast("long"))
      val agg = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_users"),
          sum(col("purchaser")).cast("long").as("n_purchasers"))
      val w2 = org.apache.spark.sql.expressions.Window
        .orderBy(col("decile"))
        .rowsBetween(org.apache.spark.sql.expressions
          .Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      agg.withColumn("cum_purchasers", sum(col("n_purchasers")).over(w2))
        .select(col("decile"), col("n_users"), col("n_purchasers"),
          round(col("n_purchasers").cast("double") / col("n_users"), 6)
            .as("conv_rate"),
          col("cum_purchasers"))
    }),

    // WATERMARK-LAGGED TOTALS — `sum/count OVER (ORDER BY t RANGE
    // BETWEEN UNBOUNDED PRECEDING AND 5s PRECEDING)`: the "all data at
    // least 5 seconds settled" accounting a late-data-tolerant ingest
    // reads. The half-bounded value-RANGE frame has no direct family
    // operator; GlobalHalfRangeRule decomposes it algebraically into
    // the running RANGE prefix minus the bounded [-5s+1, 0] gap frame
    // (null-faithful via count guards, null order keys via the IsNull
    // branch), and the family rules fuse all four helper members onto
    // ONE shared range sort — no single-partition stage, no new
    // physical operator (plans/GlobalHalfRange.scala).
    "rel_range_lagged_total" -> ((s, dir) => {
      val w5 = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
        .rangeBetween(Long.MinValue, -5000000L)
      valuedEvents(s, dir)
        .select(col("event_id"), col("t"),
          sum(col("v")).over(w5).as("lag_total"),
          count(col("v")).over(w5).as("lag_n"))
    }),

    // PARETO FRONTIER (2-D skyline) over distinct (price, order-date)
    // points, maximizing both — "orders not beaten on price AND recency
    // by any other". The textbook formulation is a quadratic NOT EXISTS
    // dominance self-join; sorted, it collapses to a sweep: under
    // (price DESC, odate DESC) a point survives iff its date strictly
    // exceeds every earlier point's (all higher-price points carry
    // earlier dates, and an equal-price predecessor with a later date
    // dominates — distinct pairs make both tests one strict compare
    // against the exclusive running max). That is ONE un-partitioned
    // running max + lag stacked on ONE shared range sort (GlobalScan +
    // GlobalShift, no single-partition stage): the O(n²) dominance join
    // becomes O(n log n) at 100 TB (ops/Skyline.scala). The oracle is
    // the INDEPENDENT quadratic derivation (DuckDB IEJoin), not this
    // sweep.
    "rel_skyline" -> ((s, dir) =>
      graft.ops.Skyline.frontier(
        tbl(s, dir, "orders").select(col("o_totalprice").as("price"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("odate")),
        "price", "odate")
        .withColumnRenamed("n_points", "n_orders")),

    // EXACT MODE per key — argmax of the (key, value) count table with a
    // deterministic smallest-value tiebreak, as TWO ordinary hash
    // aggregations: count per pair, then a struct-ordered max per key
    // ((cnt, -user) lexicographic = highest count, then lowest user).
    // No per-group value buffer, no window: post-pair-count state per
    // group is ONE (count, value) pair, partial-aggregated map-side —
    // the only mode shape that survives a 100 TB categorical column.
    "rel_mode_per_group" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(max(struct(col("cnt"), (-col("user_id")).as("nu"))).as("m"))
        .select(col("event_type"), col("m.cnt").as("mode_cnt"),
          (-col("m.nu")).as("mode_user"))),

    // CHAINED CORPUS FINGERPRINT — h_i = FNV32 * h_{i-1} + token_i over
    // the global event order: every row carries the polynomial hash of
    // its ENTIRE prefix, the incremental checksum a 100 TB ingest keeps
    // per offset (content-addressed checkpoints, replay validation). NO
    // window function can express it — each value depends on all
    // previous rows through a non-commutative fold — so Spark has no
    // distributed plan for it at all; GlobalRecurrence (plans/
    // GlobalRecur.scala) distributes it by associative affine
    // composition: pass 1 folds each partition to ONE (M, B) transform,
    // the driver prefix-composes P scalars, pass 2 threads each
    // partition locally. Wrapping-Long algebra is exact, and masking to
    // 32 bits commutes with the recurrence ((m*h+c) mod 2^64 mod 2^32 =
    // the mod-2^32 chain), which is what makes the value DuckDB-provable:
    // the oracle re-derives every prefix hash in closed form
    // (h_i = m^i * sum tok_j*inv^j, binary-decomposition modular powers).
    "rel_hash_chain_global" -> ((s, dir) => {
      val base = events(s, dir).select(
        unix_micros(col("ts")).as("t"), col("event_id"),
        lit(16777619L).as("m"),
        conv(substring(md5(concat(coalesce(col("event_type"), lit("~")),
          lit(":"),
          coalesce(round(col("value") * 1000).cast("long"), lit(-1L))
            .cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long").as("tok"))
      graft.plans.Recurrence.scan(base, "m", "tok", 0L,
        ("t", false), ("event_id", false))
        .select(col("event_id"),
          col("y").bitwiseAND(lit(4294967295L)).as("chain"))
    }),

    // Per-user EWMA — y = 0.875*y + 0.125*x seeded with each user's
    // first observation. No built-in window function can express an
    // EWMA even PARTITIONED (it is a recurrence, not a frame
    // aggregate); here it runs as a bit-exact left fold inside one
    // codegen'd projection: sort the user's observations into an array
    // and fold with `aggregate()`. Both engines execute the SAME
    // literal fp operation sequence over the same sorted list, so the
    // rounded compare is exact. Per-user sequences are bounded by a
    // user's event count (the per-key skew caveat of any collect);
    // the GLOBAL unbounded recurrence is rel_hash_chain_global's
    // operator instead.
    "rel_ewma_per_user" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          when(col("event_type") =!= "error",
            round(col("value") * 1000).cast("long")).as("v"))
        .where(col("v").isNotNull)
      e.groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("t"), col("event_id"),
          col("v").cast("double").as("x")))).as("seq"))
        .select(col("user_id"),
          round(aggregate(
            expr("slice(seq, 2, greatest(size(seq) - 1, 0))"),
            element_at(col("seq"), 1).getField("x"),
            (acc, el) => lit(0.875) * acc + lit(0.125) * el.getField("x")),
            6).as("ewma"),
          size(col("seq")).cast("long").as("n_obs"))
    }),

    // CENTERED ±50-event smoothing — `ROWS BETWEEN 50 PRECEDING AND 50
    // FOLLOWING`, the classic symmetric moving average. The frame reaches
    // FORWARD, so GlobalFrame additionally splices each partition's
    // following-boundary rows and delays emission behind a 50-row pending
    // queue; frames truncate at both corpus edges (count tracks the
    // actual neighborhood size). Rounded for cross-engine avg compare.
    "rel_frame_centered_avg" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          round(avg(col("v")).over(slidingBetween(-50, 50)), 6)
            .as("smooth_v"),
          count(col("v")).over(slidingBetween(-50, 50)).as("n_ctx"))),

    // Pure-LOOKAHEAD frame — the NEXT-10-events peak (`ROWS BETWEEN 1
    // FOLLOWING AND 10 FOLLOWING`): the frame excludes the current row,
    // so it is EMPTY for the corpus tail (peak NULL, count 0) — native
    // window edge semantics, encoded in GlobalFrame's output nullability.
    "rel_frame_lookahead_peak" -> ((s, dir) =>
      valuedEvents(s, dir)
        .select(col("event_id"),
          max(col("v")).over(slidingBetween(1, 10)).as("next_peak"),
          count(col("v")).over(slidingBetween(1, 10)).as("next_n"))),

    // Trailing 20-order price band over the raw DOUBLE column — the
    // sliding band a ledger draws. GlobalFrame's generic-extrema path:
    // boxed values under the type's interpreted ordering in monotonic
    // deques (double extrema only compare, so unlike a double sum they
    // are order-insensitive and exactly reproducible cross-engine).
    "rel_frame_price_band" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-19, 0)
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          min(col("o_totalprice")).over(w).as("band_low"),
          max(col("o_totalprice")).over(w).as("band_high"))
    }),

    // Deterministic per-key sampling: at most 3 events per user, chosen by
    // md5 order — the per-user cap a training pipeline applies so heavy
    // users can't dominate a dataset (and the reproducible cousin of
    // reservoir sampling: no rand(), so retries/re-partitions pick the
    // SAME rows). One hash-partitioned window per user_id; output per key
    // is bounded at k, so downstream joins on the sample can't skew.
    "rel_sample_per_key" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(md5(col("event_id").cast("string").cast("binary")),
          col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_id"), col("user_id"), col("event_type"))
    }),

    // Key-skew diagnostic: per event type, the per-user count distribution
    // (max/mean ratio = the hot-key factor that decides whether an agg or
    // join on this key needs salting — the measurement side of
    // rel_skew_salted_join). Two-level aggregate: the inner groupBy
    // partial-aggregates map-side, so the shuffle carries one row per
    // (type, user), never the raw events twice.
    "rel_key_skew_profile" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_users"),
          max(col("c")).as("max_per_user"),
          round(avg(col("c")), 6).as("avg_per_user"),
          round(max(col("c")) / avg(col("c")), 6).as("skew_factor"))),

    // Temperature-scaled domain mixing weights: per (lang, source) corpus
    // cell, sampling weight proportional to n_tokens^0.7 — the standard
    // multilingual temperature trick (T = 1/0.7) that upweights small
    // domains without letting any one dominate. One two-level aggregate
    // plus a broadcast 1-row normalizer; the weight table is model-sized
    // however big the corpus is.
    "text_domain_mix" -> ((s, dir) => {
      val cells = tbl(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(Dedup.cleanTokens(col("text"))).cast("long"))
            .as("n_tokens"))
      val total = cells
        .agg(sum(pow(col("n_tokens").cast("double"), 0.7)).as("z"))
      cells.crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          round(pow(col("n_tokens").cast("double"), 0.7) / col("z"), 6)
            .as("mix_weight"))
    }),

    // Deterministic acceptance-rate resampling: downsample each
    // over-represented (lang, source) cell to the mean per-cell token
    // budget — the "apply the mixing decision" step after
    // text_domain_mix. Per-doc keep test = uniform md5 fraction
    // (first 8 hex digits / 2^32 — exact power-of-two division, so the
    // comparison is bit-identical across engines) against the cell's
    // acceptance rate. The rate table is cell-count-sized and broadcast;
    // one scan decides every doc.
    "text_balanced_resample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
        .localCheckpoint(false) // feeds the cell agg + the keep scan
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(sum(col("n_tok")).as("cell_tok"))
      val target = cells
        .agg((sum(col("cell_tok")).cast("double") / count(lit(1)))
          .as("target"))
      val rates = cells.crossJoin(broadcast(target))
        .select(col("lang"), col("source"),
          least(lit(1.0), col("target") / col("cell_tok").cast("double"))
            .as("rate"))
      val frac = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("double") / lit(4294967296.0)
      docs.join(broadcast(rates), Seq("lang", "source"))
        .where(frac < col("rate"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    }),

    // PII-style redaction (emails -> <EMAIL>, URLs -> <URL>, digit runs ->
    // <NUM>): deterministic synthetic patterns appended to each doc so the
    // masking is exercised for real, then verified byte-for-byte
    "text_redact" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.redact(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("http://ex.co/p"), col("doc_id"), lit(" ref "),
          col("doc_id") * 37)).as("clean"))),

    // BPE vocabulary induction, the merge-selection statistic: adjacent
    // character-pair counts over the DISTINCT word table weighted by word
    // frequency — what byte-pair encoding maximizes when it picks its
    // next merge. Aggregating words first (one row per distinct token)
    // means the char-level explode runs over the vocabulary, not the
    // corpus: at 100 TB the token stream shrinks to a ~1 M-row word
    // table before any per-character work happens.
    "text_bpe_pair_counts" -> ((s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      words.where(length(col("w")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // BPE vocabulary TRAINING, k iterated merges — the real tokenizer-
    // induction loop, not just the first merge statistic: each round
    // aggregates adjacent-symbol pair counts over the distinct-word
    // table (distributed, vocabulary-sized), collects exactly ONE row
    // (the argmax pair — the model-on-driver pattern), and applies the
    // merge corpus-wide. Words are space-joined symbol strings, so a
    // merge is replace(ws, "p1 p2", "p1p2") — greedy left-to-right
    // non-overlapping, byte-identical semantics in Spark and DuckDB
    // (the oracle replays the same k rounds as chained CTEs). The
    // driver holds only the k-row merge table; per-round lineage is cut
    // by a local checkpoint so round i doesn't recompute rounds 1..i-1.
    "text_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeTrainMerges(s, dir, 6).toDF("step", "pair", "cnt")
    }),

    // BPE ENCODE — apply the trained merge list to the corpus, the
    // tokenizer-application half of the BPE roundtrip (merges = the
    // model, token counts = what the training pipeline actually bills
    // by). The merge list is model-sized driver state (the PQ-codebook
    // pattern); encoding is ONE codegen'd projection per token — a
    // fixed chain of k string replaces over the char-spaced form, the
    // exact sequential semantics BPE defines (replace() is left-to-
    // right non-overlapping in both engines, proven by the merges
    // chain) — then one per-doc hash aggregate. No joins, no UDF, no
    // vocabulary broadcast.
    "text_bpe_encode" -> ((s, dir) => {
      val merges = bpeTrainMerges(s, dir, 6).map(_._2)
      val spaced = rtrim(regexp_replace(col("token"), "(.)", "$1 "))
      val encoded = merges.foldLeft[org.apache.spark.sql.Column](spaced)(
        (c, p) => replace(c, lit(p), lit(p.replace(" ", ""))))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.cleanTokens(col("text"))).as("token"))
        .select(col("doc_id"),
          size(split(encoded, " ")).cast("long").as("n_sym"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_symbols"))
    }),

    // Deterministic train/val/test split: engine-portable hash bucket from
    // md5(doc_id) — reproducible across runs, engines, and partitionings
    // (the sampling/split primitive every training-data pipeline needs;
    // never rand(), which breaks retry determinism and cross-run joins)
    "text_split_assign" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))),

    // Column profiling (count/nulls/distinct/min/max) — the data-quality
    // sweep run before any training job; one pass, partial-aggregated
    "rel_profile" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag").isNull, 1L).otherwise(0L))
          .as("null_flags"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        min(col("l_quantity")).cast("double").as("min_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"),
        min(col("l_shipdate").cast("timestamp")).cast("long")
          .as("min_ship_s"))),

    // Bigram counts (n-gram LM building block): word 2-grams via the
    // NATIVE shingle expression (the declarative HOF form pays ~2
    // interpreted lambdas per bigram — 8.8s vs 0.4s at sf0.1)
    "text_bigram_counts" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(
          graft.functions.GraftFunctions.shingles(col("text"), 2))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))),

    // Gopher/MassiveText-style repetition rules — the canonical LLM
    // quality pass this engine exists for: per document, the duplicate-
    // bigram fraction and the top-bigram share (looping/gibberish text
    // repeats itself), word count and mean word length bounds, and the
    // resulting keep flag. One exploded token stream and one exploded
    // bigram stream, each aggregated per doc — no per-doc driver work,
    // scales like any aggregation. Flags compare ROUNDED ratios so both
    // engines decide identically at the thresholds.
    "text_gopher_rules" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 1))
            .as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(avg(length(col("tok"))), 6).as("mean_word_len"))
      val bg = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 2))
            .as("bigram"))
        .where(col("bigram").contains(" "))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(round(lit(1.0) - count(lit(1)).cast("double") /
            sum(col("cnt")).cast("double"), 6).as("dup_bigram_frac"),
          round(max(col("cnt")).cast("double") /
            sum(col("cnt")).cast("double"), 6).as("top_bigram_share"))
      docs.select(col("doc_id"))
        .join(toks, Seq("doc_id"), "left_outer")
        .join(bg, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("mean_word_len"), lit(0.0)).as("mean_word_len"),
          coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"),
          coalesce(col("top_bigram_share"), lit(0.0)).as("top_bigram_share"))
        .withColumn("keep",
          (col("n_words").between(5, 10000) &&
            col("mean_word_len").between(2.0, 12.0) &&
            col("dup_bigram_frac") <= 0.3 &&
            col("top_bigram_share") <= 0.2).cast("long"))
    }),

    // Eval-set contamination scan — the decontamination gate every
    // pretraining pipeline runs: treat one source ('src0') as the
    // held-out benchmark, shingle both sides, and flag corpus documents
    // sharing >= 2 distinct shingles with any benchmark document
    // (production uses 8-13-gram shingles; the engine's standard 3-gram
    // keeps one shingle pipeline end to end). The benchmark side is
    // broadcast (eval sets are tiny next to the corpus); the corpus
    // streams through one scan — at 100 TB this is a broadcast join, not
    // a shuffle.
    "text_contamination" -> ((s, dir) => {
      val sg = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))))
          .as("sh"))
      val benchmark = sg.where(col("source") === "src0")
        .select(col("sh"), col("doc_id").as("eval_id")).distinct()
      sg.where(col("source") =!= "src0").select(col("doc_id"), col("sh"))
        .join(broadcast(benchmark), "sh")
        .groupBy("doc_id")
        .agg(countDistinct(col("sh")).as("n_shared"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .where(col("n_shared") >= 2)
    }),

    // Bigram language-model quality score — the perplexity-style gate a
    // pretraining pipeline runs to rank documents by fluency: train an
    // add-one-smoothed bigram model ON the corpus itself (c(w1 w2),
    // history counts c(w1), vocab V), then score each document by its
    // mean log-probability avg ln((c12+1)/(c1+V)). Model building and
    // scoring are joins over the exploded bigram stream — at 100 TB the
    // model tables shuffle on bigram/history keys like any aggregation
    // (no driver-side model); token-less docs score 0 via the left join.
    // A doc's only pseudo-shingle lacks the separator space when it has
    // <2 tokens, which is the portable real-bigram filter on both sides.
    "text_lm_score" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // materialized once: FIVE consumers below (bigram counts, history
      // counts, both vocab branches, the scored join) would otherwise
      // each re-run the full tokenize+shingle explode — the dominant
      // cost at corpus scale (measured 6.3x at the 10x ladder rung)
      val docBg = docs.select(col("doc_id"),
          explode(graft.functions.GraftFunctions.shingles(col("text"), 2))
            .as("bigram"))
        .where(col("bigram").contains(" "))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .localCheckpoint(false)
      val bgCounts = docBg.groupBy("bigram").agg(count(lit(1)).as("c2"))
      val histCounts = docBg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = docBg.select(col("w1").as("t"))
        .unionAll(docBg.select(
          substring_index(col("bigram"), " ", -1).as("t")))
        .agg(countDistinct(col("t")).as("v"))
      val scored = docBg
        .join(bgCounts, "bigram").join(histCounts, "w1")
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(round(avg(log(
            (col("c2") + 1).cast("double") /
              (col("c1") + col("v")).cast("double"))), 6).as("lm_score"),
          count(lit(1)).as("n_bigrams"))
      docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("lm_score"), lit(0.0)).as("lm_score"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
    }),

    // Brute-force exact cosine top-20 against vec_id=0's embedding
    "emb_knn_cosine" -> ((s, dir) => {
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.knn(tbl(s, dir, "embeddings"), col("embedding"),
        col("vec_id"), q, 20)
    }),

    // Multi-vector late-interaction retrieval (MaxSim): score each
    // candidate group (label) against a multi-vector query — sum over
    // query vectors of the max cosine to any of the group's vectors —
    // the ColBERT scoring shape. The query side (4 vectors) broadcasts
    // as a model-sized literal table; candidates stream through one scan
    // and two key-space-sized aggregations. Cosines are rounded before
    // max (round is monotone, so max commutes with it on both engines).
    "emb_maxsim" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("label") === 0).orderBy("vec_id").limit(4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      emb.crossJoin(broadcast(q))
        .select(col("label"), col("q_id"),
          round(Similarity.cosine(col("embedding"), col("q_emb")), 6)
            .as("cos"))
        .groupBy("label", "q_id").agg(max(col("cos")).as("best"))
        .groupBy("label").agg(round(sum(col("best")), 6).as("maxsim"),
          count(lit(1)).as("n_q"))
    }),

    // Per-label norm statistics (order-independent min/max of rounded norms)
    "emb_norm_stats" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("label"),
          Similarity.l2Norm(col("embedding")).as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          min(round(col("norm"), 6)).as("min_norm"),
          max(round(col("norm"), 6)).as("max_norm"))),

    // IVF "train" step: element-wise centroid per label. Native vector-sum
    // aggregate over the ORIGINAL rows (one partial+final agg, no 64x
    // posexplode row amplification into the shuffle); the tiny per-label
    // result is exploded AFTER aggregation only to match the oracle's
    // (label, pos, m) shape.
    "emb_centroids" -> ((s, dir) =>
      graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
        .select(col("grp").as("label"),
          posexplode(col("centroid")).as(Seq("pos0", "x")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("x"), 6).as("m"))),

    // Embedding drift monitor: per-label centroid of the even-id half
    // vs the odd-id half, compared by cosine — the corpus-shift gate a
    // training pipeline runs between ingestion generations. ONE
    // vector-mean hash aggregate keyed (label, half) does all the data
    // work (~17 KB buffers, partial+final); the 2×|labels| centroid
    // rows then self-join and fold the cosine with codegen'd
    // zip_with/aggregate. Centroids round to 6 decimals BEFORE the
    // distance math so both engines fold bit-identical model values.
    "emb_centroid_shift" -> ((s, dir) => {
      val halves = tbl(s, dir, "embeddings")
        .groupBy(col("label"), (col("vec_id") % 2).cast("long").as("half"))
        .agg(graft.functions.GraftFunctions
            .vecMean(col("embedding")).as("c"),
          count(lit(1)).as("n"))
        .select(col("label"), col("half"),
          transform(col("c"), x => round(x, 6)).as("c"), col("n"))
        // 2×|labels| centroid rows — checkpoint so the even/odd join
        // sides reuse them instead of re-aggregating the corpus twice
        .localCheckpoint(false)
      val ev = halves.where(col("half") === 0)
        .select(col("label"), col("c").as("ca"), col("n").as("n_even"))
      val od = halves.where(col("half") === 1)
        .select(col("label").as("lbl"), col("c").as("cb"),
          col("n").as("n_odd"))
      def fold(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(v, lit(0.0), (acc, x) => acc + x)
      val dot = fold(zip_with(col("ca"), col("cb"), (x, y) => x * y))
      val na = sqrt(fold(zip_with(col("ca"), col("ca"), (x, y) => x * y)))
      val nb = sqrt(fold(zip_with(col("cb"), col("cb"), (x, y) => x * y)))
      ev.join(od, col("label") === col("lbl"))
        .select(col("label"), col("n_even"), col("n_odd"),
          round(dot / (na * nb), 6).as("cos_shift"))
    }),

    // Near-dup vector pairs, blocked by label. The label key has FIXED
    // cardinality (10), so per-block size grows N at N× data — the
    // maxBlock cap (LSH-refine then md5-salt, Similarity.scala) keeps the
    // self-join O(n · maxBlock) instead of quadratic; 40 engages the
    // refinement at every ladder rung including the sf0.01 oracle run.
    "emb_near_dup_pairs" -> ((s, dir) =>
      Similarity.nearDupPairsBlocked(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), col("label"), 0.0,
        maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.35)),

    // Sign-random-projection LSH over embeddings (ANN bucket assignment);
    // hyperplane weights from integer LCG arithmetic — engine-portable
    "emb_lsh_buckets" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))),

    // Embedding near-dup via LSH blocking (production shape: no label
    // oracle needed — candidates come from the sign-projection buckets)
    // capped like emb_near_dup_pairs: 256 sign-projection buckets are
    // also fixed-cardinality, so hot buckets grow N at N× data
    "emb_lsh_near_dup" -> ((s, dir) =>
      Similarity.nearDupPairsBlocked(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 8), minCos = -2.0,
        maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.3)),

    // Hard-negative mining for contrastive training: for each of 3 query
    // vectors, the top-5 most cosine-similar vectors carrying a DIFFERENT
    // label — the near-boundary negatives a retrieval trainer puts in the
    // batch. The 3 queries ride the plan as struct literals (model-sized
    // driver state); one scan scores every (vector, query) pair via
    // explode (3x the stream, still linear) and the per-query top-5 cuts
    // map-side through the partial WindowGroupLimit, so the shuffle
    // carries <= 5 rows per query per partition.
    "emb_hard_negatives" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 3)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq
      val qStructs = array(qs.map { case (qid, qlab, v) =>
        struct(lit(qid).as("qid"), lit(qlab).as("qlab"),
          array(v.map(lit): _*).as("qv"))
      }: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
      emb.select(col("vec_id"), col("label"), col("embedding"),
          explode(qStructs).as("q"))
        .select(col("vec_id"), col("label"),
          col("q.qid").as("qid"), col("q.qlab").as("qlab"),
          round(Similarity.cosine(col("embedding"), col("q.qv")), 6)
            .as("cos"))
        .where(col("label") =!= col("qlab") && col("vec_id") =!= col("qid"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("cos"))
    }),

    // SemDeDup-style semantic dedup: connected components over the
    // LSH-blocked cosine near-dup graph (cos >= 0.4 on this corpus), each
    // cluster keeping its min-id vector — the embedding-space counterpart
    // of pipeline_fuzzy_dedup, per-label survivor accounting. Candidates
    // never leave their sign-projection buckets, CC runs the bounded
    // O(diameter) loop, the final agg is one shuffle over (label).
    "emb_semantic_dedup" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val edges = Similarity.nearDupPairsBlocked(emb, col("embedding"),
          col("vec_id"), Similarity.lshBucket(col("embedding"), 64, 8),
          minCos = -2.0, maxBlock = 40, dims = 64)
        .select(col("id1"), col("id2"),
          round(col("cos"), 6).as("cos"))
        .where(col("cos") >= 0.4)
        .select(col("id1"), col("id2"))
      val cc = Dedup.connectedComponents(
        emb.select(col("vec_id")), edges, idCol = "vec_id")
      emb.select(col("vec_id"), col("label"))
        .join(cc, "vec_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum((col("vec_id") === col("component")).cast("int")).cast("long")
            .as("n_kept"))
    }),

    // Symmetric int8 quantization per embedding (the storage path that
    // makes 100 TB of fp32 vectors 4x smaller): scale = 127/max|x|,
    // q = clamp(floor(x*scale + 0.5)) — floor(+0.5) pins the rounding
    // mode so any engine reproduces the exact codes — plus saturation
    // count and reconstruction MSE. Pure expressions, one scan.
    "emb_quantize" -> ((s, dir) => {
      val x = col("embedding").cast("array<double>")
      val mx = array_max(transform(x, v => abs(v)))
      val scale = when(col("mx") === 0.0, lit(1.0))
        .otherwise(lit(127.0) / col("mx"))
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), x.as("x"), mx.as("mx"))
        .select(col("vec_id"), col("x"), scale.as("scale"))
        .select(col("vec_id"), col("x"), col("scale"),
          transform(col("x"), v =>
            greatest(lit(-127L), least(lit(127L),
              floor(v * col("scale") + lit(0.5))))).as("q"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale"),
          size(filter(col("q"), v => abs(v) === 127L)).cast("long")
            .as("n_sat"),
          round(aggregate(
            zip_with(col("x"), col("q"), (a, qq) =>
              (a - qq.cast("double") / col("scale")) *
                (a - qq.cast("double") / col("scale"))),
            lit(0.0), _ + _) / size(col("q")).cast("double"), 6).as("mse"))
    }),

    // MULTI-PROBE LSH search: probe the query's bucket plus the 3
    // flipped lowest-|margin| buckets (driver math on the query
    // literal), exact-cosine re-rank, distributed top-10 — the bounded
    // recall/IO dial between single-bucket LSH and brute force. Query
    // vector = vec_id 0 (collected; model-sized), excluded from results.
    "emb_multiprobe_search" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toSeq
      Similarity.multiProbeSearch(emb.where(col("vec_id") =!= 0),
        col("embedding"), col("vec_id"), qv, dims = 64, k = 10)
    }),

    // EMBEDDING OOD / OUTLIER SCORE — diagonal Mahalanobis distance to
    // the corpus mean (the curation gate that drops corrupt or
    // out-of-distribution vectors before training): μ and σ² per
    // dimension come from the SAME one-pass moment aggregate as the
    // covariance (model-sized), then scoring is one codegen'd scan with
    // the statistics as literals + a distributed top-20. Full-matrix
    // Mahalanobis would need C⁻¹ (driver math too, but the diagonal
    // variant is the standard first gate and keeps the oracle exact).
    "emb_ood_score" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val (n, sm, o) = graft.ops.Pca.momentSums(emb, col("embedding"))
      val d = sm.length
      val mu = sm.map(_ / n)
      val va = (0 until d).map(i => o(i)(i) / n - mu(i) * mu(i))
      require(va.forall(_ > 0.0),
        "emb_ood_score: a zero-variance dimension cannot be normalized")
      val muArr = array(mu.toIndexedSeq.map(lit): _*)
      val vaArr = array(va.map(lit): _*)
      val diff = zip_with(col("embedding").cast("array<double>"), muArr,
        (a, m) => a - m)
      val terms = zip_with(diff, vaArr, (dd, vv) => dd * dd / vv)
      val score = aggregate(terms, lit(0.0), (acc, x) => acc + x)
      emb.select(col("vec_id"), round(score, 6).as("ood"))
        .orderBy(col("ood").desc, col("vec_id").asc)
        .limit(20)
    }),

    // COVARIANCE MATRIX in one pass: the native VectorOuterSumAgg
    // accumulates n / Σx / upper-tri Σxᵢxⱼ map-side, so the shuffle
    // carries one ~17 KB buffer per partition — never 2080 exploded
    // join rows per vector like the declarative self-join would.
    // Output is the model (upper triangle, 1-based positions).
    // (`+ 0.0` kills IEEE -0.0 — both engines normalize the zero sign
    // identically before the driver's stringified compare)
    "emb_covariance" -> ((s, dir) =>
      graft.ops.Pca.covarianceDf(tbl(s, dir, "embeddings"),
        col("embedding"))
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"))),

    // PCA dominant eigenpair: data-sized work is the one-pass moment
    // aggregate; the 64x64 eigenproblem is driver-side model math (fixed
    // 24 power-iteration steps from a fixed start — the oracle replays
    // the identical arithmetic, so parity needs no convergence argument).
    "emb_pca_power" -> ((s, dir) =>
      graft.ops.Pca.topComponentDf(tbl(s, dir, "embeddings"),
        col("embedding"), iters = 24)
        .select(col("pos"),
          (round(col("loading"), 6) + lit(0.0)).as("loading"),
          (round(col("lambda"), 6) + lit(0.0)).as("lambda"))),

    // PCA projection: mean-centered x·v per vector — one codegen'd scan
    // with the component as literals, the dimensionality-reduction step
    // a 100 TB embedding pipeline runs before clustering/indexing.
    "emb_pca_project" -> ((s, dir) =>
      graft.ops.Pca.projectTop(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), iters = 24)
        .select(col("vec_id"),
          (round(col("pc1"), 6) + lit(0.0)).as("pc1"))),

    // Language-ID confusion matrix: metadata lang vs predicted
    "text_lang_confusion" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .groupBy(col("lang"),
          graft.functions.GraftFunctions.langId(col("text"))
            .as("lang_pred"))
        .agg(count(lit(1)).as("cnt"))),

    // Null-safe equality end to end: derive a nullable key (errors map to
    // NULL), aggregate it — null is a real group — and join rows back on
    // `<=>` (IS NOT DISTINCT FROM), so the null-keyed rows find their
    // null group instead of silently dropping as an equi-join would
    "rel_null_safe_join" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_id"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")).as("k"))
      val g = e.groupBy(col("k").as("gk"))
        .agg(count(lit(1)).as("group_cnt"))
      e.join(g, col("k") <=> col("gk"))
        .select(col("event_id"), col("k"), col("group_cnt"))
    }),

    // Window navigation battery: lag/lead/first over a per-user timeline
    // (prev/next event type, session-start anchor, gap to next event) —
    // the navigation functions the frame-based window queries don't touch
    "rel_window_navigation" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .select(col("user_id"), col("event_id"),
          lag("event_type", 1).over(w).as("prev_type"),
          lead("event_type", 1).over(w).as("next_type"),
          first(col("ts_us")).over(w).as("first_ts_us"),
          (lead("ts_us", 1).over(w) - col("ts_us")).as("us_to_next"))
    }),

    // Explicit GROUPING SETS with grouping() markers (rollup/cube's
    // general form): per-status totals, per-priority totals, grand total
    "rel_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               |       cast(grouping(o_orderstatus) AS bigint) AS g_status,
               |       cast(grouping(o_orderpriority) AS bigint) AS g_prio
               |FROM graft_orders_gs
               |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
               |                        ())""".stripMargin)
    }),

    // Event-time RANGE frame: per event, how many same-user events landed
    // in the trailing hour — the value-based window (peers by range, not
    // row count) that rel_moving_avg's ROWS frame doesn't exercise
    "rel_trailing_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          count(lit(1)).over(w).as("n_trailing_1h"))
    }),

    // Time-series gap fill: a complete hourly spine (global min..max hour
    // x event_type, built from a 1-row aggregate — no correlated
    // generation) left-joined with the hourly counts, gaps carried
    // forward with last-non-null and zero before first observation
    "rel_gap_fill" -> ((s, dir) => {
      val hourUs = 3600000000L
      val ev = events(s, dir).select(col("event_type"),
        (unix_micros(col("ts")) - (unix_micros(col("ts")) % hourUs))
          .as("hr"))
      val hourly = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("cnt"))
      val bounds = ev.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hr"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("hr"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hr"), "left_outer")
        .select(col("event_type"), col("hr"),
          coalesce(last(col("cnt"), ignoreNulls = true).over(w), lit(0L))
            .as("filled_cnt"),
          (col("cnt").isNotNull).as("observed"))
    }),

    // Fixed-width histogram over event values
    "rel_value_histogram" -> ((s, dir) =>
      events(s, dir)
        .groupBy(floor(col("value") / 20).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"))),

    // Moving average (3-row frame) per user over event time
    "rel_moving_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-2, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .select(col("user_id"), col("event_id"),
          round(avg(col("value")).over(w), 6).as("mavg"))
    }),

    // Exact n-gram Jaccard on LSH candidate pairs: bands generate the
    // candidates (O(collisions), not O(n^2)); exact distinct-shingle
    // intersection/union only on those pairs
    "dedup_jaccard_pairs" -> ((s, dir) => jaccardPairsDf(s, dir)),

    // SORTED-NEIGHBORHOOD candidate generation (SNM) — the classic
    // record-linkage blocking alternative to LSH: ONE global sort by a
    // canonical blocking key (normalized-text prefix), then each doc is
    // compared only to its w=3 predecessors in that order. The three
    // lags stack on one shared un-partitioned range sort (GlobalShift,
    // no single-partition stage); candidates are O(w·n) by construction
    // and the exact Jaccard verify runs only on those. Catches near-dups
    // whose edits fall OUTSIDE the prefix; complements the capped LSH
    // chain (probabilistic recall) and the exact prefix-filter join
    // (dedup_ssjoin_exact) as the third candidate-generation strategy.
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bkey"), col("doc_id"))
      val keyed = tbl(s, dir, "documents").select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""),
          1, 24).as("bkey"))
      val nbrs = keyed.select(col("doc_id"),
        lag(col("doc_id"), 1).over(w).as("n1"),
        lag(col("doc_id"), 2).over(w).as("n2"),
        lag(col("doc_id"), 3).over(w).as("n3"))
      // one explode, not a 3-way union: a union would re-plan the sorted
      // shift subtree once per branch (3 sorts); here the three lags
      // share ONE range sort and the array explode fans the pairs out
      val pairs = nbrs
        .select(explode(array(col("n1"), col("n2"), col("n3"))).as("id1"),
          col("doc_id").as("id2"))
        .where(col("id1").isNotNull)
      val sh = tbl(s, dir, "documents").select(col("doc_id"),
        array_distinct(
          graft.functions.GraftFunctions.shingles(col("text"))).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .select(col("id1"), col("id2"),
          round(size(array_intersect(col("sh1"), col("sh2"))).cast("double")
            / size(array_union(col("sh1"), col("sh2"))).cast("double"), 6)
            .as("jaccard"))
        .where(col("jaccard") >= 0.5)
    }),

    // Asymmetric containment on the LSH candidate pairs: |A∩B|/|A| and
    // |A∩B|/|B| alongside the symmetric Jaccard — a short document fully
    // quoted inside a long one scores low Jaccard (union is big) but
    // containment ~1 in one direction, which is exactly the doc-in-doc
    // duplication a dedup pass must catch. Same capped candidate
    // generation as dedup_jaccard_pairs; only the pair scoring differs.
    "dedup_containment_pairs" -> ((s, dir) =>
      jaccardPairsWithSetsDf(s, dir)
        .select(col("id1"), col("id2"),
          round(col("inter").cast("double") / col("n1").cast("double"), 6)
            .as("contain1"),
          round(col("inter").cast("double") / col("n2").cast("double"), 6)
            .as("contain2"))),

    // FUZZY cross-corpus decontamination — the near-dup cousin of
    // text_contamination's exact shingle overlap: evaluation documents
    // (source 'src0' stands in for the benchmark suite) vs the training
    // corpus (every other source), matched through the SAME capped+salted
    // MinHash-LSH candidate chain the dedup family uses, then scored by
    // exact distinct-shingle Jaccard AND one-sided containment on the
    // candidates only. Containment OF THE EVAL SIDE is the
    // decontamination-critical score: an eval item quoted inside a long
    // training document has low Jaccard (big union) but
    // contain_eval = |overlap|/|eval shingles| ~= 1 — the leakage shape
    // exact matching misses once a word is paraphrased. Emits the
    // training docs to DROP with their matched eval doc. 100 TB shape:
    // O(band collisions), never O(corpus x benchmark); the doc-source
    // membership map rides broadcasts.
    "dedup_cross_corpus" -> ((s, dir) => {
      // `src` is one row per DOCUMENT (corpus-sized) — no broadcast
      // hint: the sparse candidate-pair list shuffle-joins on doc_id
      // instead (AQE may still elect a broadcast when the frame is
      // measured tiny). Same fix class as text_split_leakage; the
      // PlanAuditSpec broadcast census blocks regressions.
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), (col("source") === "src0").as("bench"))
      jaccardPairsWithSetsDf(s, dir)
        .join(src.select(col("doc_id").as("id1"),
          col("bench").as("b1")), "id1")
        .join(src.select(col("doc_id").as("id2"),
          col("bench").as("b2")), "id2")
        .where(col("b1") =!= col("b2"))
        .select(
          when(col("b1"), col("id2")).otherwise(col("id1")).as("doc_id"),
          when(col("b1"), col("id1")).otherwise(col("id2")).as("eval_id"),
          round(col("inter").cast("double") / col("uni").cast("double"), 6)
            .as("jaccard"),
          round(col("inter").cast("double") /
            when(col("b1"), col("n1")).otherwise(col("n2")).cast("double"),
            6).as("contain_eval"))
        .where(col("jaccard") >= 0.5 || col("contain_eval") >= 0.8)
    }),

    // PageRank (2 unrolled iterations, damping 0.85) over the thresholded
    // near-dup graph — centrality over dup clusters ranks the canonical
    // copy of each cluster (quality propagation, the graph cousin of the
    // min-label CC). Each iteration is one edges-ranks join + one key agg
    // — the O(iterations) shuffle pattern that scales like the CC loop;
    // the rank vector never touches the driver. Deterministic: fixed
    // iteration count, rounded output.
    "dedup_pagerank" -> ((s, dir) => {
      val pairs = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
      val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .repartition(col("src")) // partitioning survives the checkpoint:
        // deg and both rank-iteration joins reuse it shuffle-free
        .localCheckpoint(false) // feeds deg + both iterations
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val n = tbl(s, dir, "documents").agg(count(lit(1)).as("n"))
      val nodes = tbl(s, dir, "documents").select(col("doc_id"))
        .crossJoin(broadcast(n))
      def step(r: DataFrame): DataFrame = {
        val inflow = r.select(col("doc_id").as("rid"), col("r"))
          .join(edges, col("rid") === col("src"))
          .join(deg, "src")
          .select(col("dst"), (col("r") / col("deg")).as("c"))
          .groupBy("dst").agg(sum(col("c")).as("inflow"))
        nodes.join(inflow, col("doc_id") === col("dst"), "left_outer")
          .select(col("doc_id"), col("n"),
            (lit(0.15) / col("n") +
              lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("r"))
      }
      val r0 = nodes.select(col("doc_id"), col("n"),
        (lit(1.0) / col("n")).as("r"))
      step(step(r0)).select(col("doc_id"),
        round(col("r"), 9).as("pagerank"))
    }),

    // Near-dup CLUSTERS from the pairs: connected components by iterative
    // min-label propagation (each component's label = its min doc_id, the
    // canonical representative to keep). Pairs are thresholded at
    // jaccard >= 0.5; isolated docs form singleton components.
    "dedup_connected_components" -> ((s, dir) => {
      val edges = jaccardPairsDf(s, dir)
        .where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      Dedup.connectedComponents(
        tbl(s, dir, "documents").select(col("doc_id")), edges)
    }),

    // Accuracy CONTRACT for the banded-MinHash LSH path (the dedup cousin
    // of emb_ivf_recall / rel_cms_freq_bounded): recall of the capped LSH
    // candidate generation against the TRUE >= 0.5-Jaccard pair set on a
    // deterministic doc sample (md5-bucket on doc_id — the
    // rel_stratified_sample idiom, reproducible across engines/retries).
    // The truth side's cost is BOUNDED BY DESIGN on two axes, not by a
    // constant that happens to be small:
    //   * corpus growth — the sample threshold is SCALE-INVERSE:
    //     min(40%, ceil(20000/N)%) of docs, i.e. an expected ~200
    //     sampled docs regardless of corpus size (40% at the harness's
    //     500-doc tables, 0.02% at 1M docs);
    //   * hot shingles — truth buckets are df-capped at TruthDfCap
    //     within the sample: a corpus-universal boilerplate shingle
    //     would otherwise concentrate O(sampledDf^2) pair structs in
    //     one task. The cap applies to the TRUTH definition (and
    //     therefore identically to numerator and denominator — found is
    //     truth ∩ candidates): the contract measures recall over pairs
    //     witnessed by at least one DISCRIMINATIVE shingle, which is
    //     exactly the pair class LSH is built to find. Worst-case truth
    //     cost is sum-per-shingle of min(df, cap)^2 over ~200 docs —
    //     constant.
    // The candidate side stays the PRODUCTION capped LSH pass over the
    // whole corpus. With 4 bands of 2 rows, pairs at J >= 0.5 collide
    // with probability 1-(1-J^2)^4 >= 0.94, so recall lands near 1
    // (exact value pinned by the oracle; bounds and the subset property
    // by TrainingOpsSpec).
    "dedup_lsh_recall" -> ((s, dir) => {
      val nDocs = math.max(1L, tbl(s, dir, "documents").count())
      val thr = math.max(1L, math.min(40L, math.ceil(20000.0 / nDocs).toLong))
      val sampled = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100 < thr
      val sh = tbl(s, dir, "documents").where(sampled)
        .select(col("doc_id"),
          array_distinct(graft.functions.GraftFunctions
            .shingles(col("text"))).as("sh"))
        .localCheckpoint(false) // feeds the explode + both size lookups
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      // exact co-occurrence counts WITHOUT the shingle self-join: group
      // doc ids per shingle, emit ordered pairs from each bucket with
      // codegen'd higher-order functions, count per pair — the same
      // pair stream as a self-join, but one aggregate chain instead of
      // a two-sided shuffle join. Bucket arrays are at most TruthDfCap
      // long (see the budget invariant above).
      val buckets = ex.groupBy(col("g"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .where(size(col("ids")) > 1 &&
          size(col("ids")) <= SparkEntry.TruthDfCap)
      val inter = buckets.select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), " +
            "y -> struct(x AS id1, y AS id2))))")).as("p"))
        .select(col("p.id1"), col("p.id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"))
      val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
      val truePairs = inter
        .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")),
          "id1")
        .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")),
          "id2")
        .where(round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"), 6) >= 0.5)
        .select(col("id1"), col("id2"))
        .localCheckpoint(false) // consumed by the count + the semi-join
      val cand = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val found = truePairs.join(cand, Seq("id1", "id2"), "left_semi")
      truePairs.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .select(col("n_true"), col("n_found"),
          round(when(col("n_true") > 0,
            col("n_found").cast("double") / col("n_true"))
            .otherwise(lit(1.0)), 6).as("recall"))
    }),

    // Triangle census of the near-dup graph: edges + wedges + triangles +
    // the global clustering coefficient — the structural summary that
    // separates chains of borderline pairs from tight dup cliques (a
    // high coefficient says the 0.5 threshold is finding real clusters,
    // not noise). Edges are the thresholded LSH-candidate pairs, already
    // canonical id1 < id2; triangles come from two self-joins on the
    // ORDERED edge list (a<b<c — each triangle counted exactly once, no
    // symmetrization blow-up), the textbook distributed triangle plan.
    // Its worst-case shuffle is O(E^1.5), kept tiny here because the LSH
    // bucket cap bounds per-node degree at source.
    "dedup_triangle_count" -> ((s, dir) => {
      val e = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
        .localCheckpoint(false) // feeds degrees + three join sides
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.id2") === col("e2.id1"))
        .join(e.as("e3"), col("e1.id1") === col("e3.id1") &&
          col("e2.id2") === col("e3.id2"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("id1").as("n"))
        .unionAll(e.select(col("id2").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(col("d") * (col("d") - 1)) / 2, lit(0.0))
          .cast("long").as("n_wedges"))
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(when(col("n_wedges") > 0,
            lit(3.0) * col("n_triangles") / col("n_wedges"))
            .otherwise(lit(0.0)), 6).as("clustering_coeff"))
    }),

    // CCNet-style duplicated-paragraph accounting, adapted to the
    // corpus's single-line docs: "paragraphs" are fixed 10-token chunks,
    // and a chunk is duplicated when its exact text occurs in more than
    // one document. The per-doc dup fraction is the removal signal a
    // line-dedup pass filters on. Plan: one explode -> hash-group per
    // chunk (distinct-doc counts) -> join back on the chunk text ->
    // per-doc aggregate; both shuffles are O(chunks) over uniformly
    // distributed hash keys, and the chunk stream is materialized once
    // (localCheckpoint) for its two consumers.
    "dedup_chunk_dedup" -> ((s, dir) => {
      val chunks = chunksDf(s, dir).select(col("doc_id"), col("chunk"))
      val freq = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(freq, "chunk")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum((col("nd") > 1).cast("int")).cast("long").as("n_dup_chunks"),
          round(avg((col("nd") > 1).cast("int").cast("double")), 6)
            .as("dup_frac"))
    }),

    // Incremental-ingest dedup: the nightly-batch shape — a new slice is
    // admitted only if its NORMALIZED fingerprint (case-folded,
    // whitespace-collapsed) is absent from the existing corpus AND it is
    // the first occurrence within its own batch. The batch is fresh docs
    // (doc_id >= 250) plus deliberate RE-INGESTS: every 5th corpus doc
    // resubmitted under a new id with case flips and padding — noise the
    // normalization must see through (50 removals at 500 docs, exercised
    // for real, not vacuously). One shuffled left-anti join on the
    // fingerprint + a per-batch first-occurrence window; at 100 TB the
    // corpus side is a fingerprint-only column (32 bytes/doc) and the
    // anti join shuffles hashes, never text.
    "dedup_incremental_ingest" -> ((s, dir) => {
      val fp = Dedup.fingerprint(col("text"))
      val docs = tbl(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 250)
      val batch = docs.where(col("doc_id") >= 250)
        .select(col("doc_id"), col("lang"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000).as("doc_id"), col("lang"),
            upper(concat(lit("  "), col("text"), lit("  "))).as("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      batch.select(col("doc_id"), col("lang"), fp.as("fp"))
        .join(corpus.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lang"))
    }),

    // The REMOVAL half of CCNet-style paragraph dedup (dedup_chunk_dedup
    // is the accounting half): rebuild each document keeping a chunk only
    // if it is globally unique OR this doc is the chunk's canonical
    // (min-id) owner — so exactly one copy of every duplicated paragraph
    // survives corpus-wide. Chunk order is restored by sorting on the
    // chunk index inside the per-doc aggregate; docs whose every chunk is
    // owned elsewhere drop out entirely (they were pure duplicates).
    "dedup_chunk_removal" -> ((s, dir) => {
      val chunks = chunksDf(s, dir)
      val owner = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"),
          min(col("doc_id")).as("owner"))
      chunks.join(owner, "chunk")
        .where(col("nd") === 1 || col("doc_id") === col("owner"))
        .groupBy(col("doc_id"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk"))).as("clean_text"))
    }),

    // Exact duplicated-span inventory (the exact-substring pass of a
    // training-data dedup, à la "Deduplicating Training Data Makes
    // Language Models Better"): every 8-token gram occurring in >= 2
    // distinct documents, with doc- and occurrence-counts. One explode ->
    // hash-group; grams are uniform hash keys, partial aggregation runs
    // map-side, and the >= 2 filter is a HAVING over the final agg.
    "dedup_dup_spans" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), Dedup.cleanTokens(col("text")).as("toks"))
      d.where(size(col("toks")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - 7),
            i => concat_ws(" ",
              (0 until 8).map(j => element_at(col("toks"), i + lit(j))): _*)))
            .as("gram"))
        .groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .where(col("n_docs") >= 2)
    }),

    // Capstone fuzzy-dedup pipeline: MinHash -> banded LSH candidates ->
    // exact-Jaccard threshold -> connected components -> keep each
    // component's min-id canonical doc -> per-language survivor stats.
    // This is the end-to-end near-dup removal pass of a training-data
    // build, composed entirely from the scale-shaped operators proven
    // individually (capped LSH buckets, O(diameter) CC with bounded
    // checkpoints, one final aggregate).
    "pipeline_fuzzy_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val edges = jaccardPairsDf(s, dir).where(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val cc = Dedup.connectedComponents(
        docs.select(col("doc_id")), edges)
      docs.select(col("doc_id"), col("lang"),
          size(Dedup.cleanTokens(col("text"))).cast("long").as("n_tok"))
        .join(cc, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("doc_id") === col("component")).cast("int")).cast("long")
            .as("n_kept"),
          sum(when(col("doc_id") === col("component"), col("n_tok"))
            .otherwise(0L)).as("n_tokens_kept"))
    }),

    // IVF assign step: nearest label-centroid by (rounded) cosine
    "emb_ivf_assign" -> ((s, dir) => {
      // the IVF "model" is the centroid table (10 labels x 64 doubles):
      // trained distributed, collected as a model artifact, then baked
      // into the plan as literals — assignment becomes ONE scan with a
      // native dot per (vector, centroid), no explode-join of 64x rows
      // per vector. At 100 TB the vectors stream; only the model sits on
      // the driver.
      val cents = graft.ops.Similarity.centroids(
        tbl(s, dir, "embeddings"), col("embedding"), col("label"))
        .orderBy("grp").collect()
        .map(r => r.get(0) -> r.getSeq[Double](1)).toSeq
      Similarity.assignToCentroids(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), cents)
    }),

    // K-means, two Lloyd iterations: seed centroids = vectors 0..9;
    // each round assigns by ROUNDED cosine argmax (deterministic) and
    // retrains with the native vector-mean aggregate, centroid
    // components re-rounded to 6 so the "model" is engine-portable.
    // Per round: one assign scan + one partial+final agg; only the
    // 10x64 model crosses the driver. The oracle replays both
    // iterations in SQL.
    "emb_kmeans" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val seeds = emb.where(col("vec_id") < 10)
        .orderBy("vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      def retrain(assign: org.apache.spark.sql.DataFrame)
      : Seq[(Any, Seq[Double])] =
        graft.ops.Similarity.centroids(
          emb.join(assign.select(col("vec_id"), col("assigned")), "vec_id"),
          col("embedding"), col("assigned"))
          .select(col("grp"), transform(col("centroid"),
            x => round(x, 6)).as("centroid"))
          .orderBy("grp").collect()
          .map(r => r.get(0) -> r.getSeq[Double](1)).toSeq
      val a1 = Similarity.assignToCentroids(emb, col("embedding"),
        col("vec_id"), seeds.map { case (l, v) => (l: Any, v) })
      val c1 = retrain(a1)
      Similarity.assignToCentroids(emb, col("embedding"),
        col("vec_id"), c1)
        .select(col("vec_id"), col("assigned").cast("long").as("cluster"),
          col("cos"))
    }),

    // Product-quantization encode: each 64-dim vector compressed to 4
    // subspace codes (nearest per-label mean subvector by rounded squared
    // L2, min-label tiebreak). The codebook is model-sized driver state;
    // encoding is one codegen'd scan — array_min struct folds, no explode,
    // no shuffle (the compression step of billion-vector ANN)
    "emb_pq_encode" -> ((s, dir) =>
      Similarity.pqCodes(tbl(s, dir, "embeddings"), col("embedding"),
        col("vec_id"), pqCodebook(s, dir), subDim = 16)),

    // PQ asymmetric-distance search (ADC): the query stays exact, every
    // database vector is scored through its 4 codes via per-subspace
    // distance lookup tables (4 array literals — computed once on the
    // driver from the model, broadcast inside the plan). One scan +
    // TakeOrderedAndProject: the 100 TB search path after pq_encode has
    // shrunk the vectors ~64x
    "emb_pq_search" -> ((s, dir) => {
      val cb = pqCodebook(s, dir)
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // dt(j)(label) = rounded ||q_j - m_{j,label}||^2; cb is sorted by
      // label 0..k-1, so label doubles as the lookup position
      val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
        val qs = q.slice(j * 16, (j + 1) * 16)
        cents.map { case (_, mv) =>
          r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
      }
      val codes = Similarity.pqCodes(tbl(s, dir, "embeddings"),
        col("embedding"), col("vec_id"), cb, subDim = 16)
      val adc = round(dt.zipWithIndex.map { case (tab, j) =>
        element_at(array(tab.map(lit): _*),
          (col(s"code_$j") + 1).cast("int"))
      }.reduce(_ + _), 6)
      codes.select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(10)
    }),

    // Full IVF search: score label-centroids against the query vector,
    // probe the top-3 cells, exact cosine top-10 within just those cells —
    // the candidate scan is 3/10ths of the data, the pattern that makes
    // ANN linear-scan-free at 100 TB
    "emb_ivf_search" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      // centroid train = native vector-mean agg (no posexplode); cell
      // scoring is then one native dot per 10-row centroid table
      val cell = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
      // top-3 probed cells via sort-limit (TakeOrderedAndProject over the
      // 10-row model — no single-partition Window anywhere in the plan)
      val probed = cell.orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      emb.join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
    }),

    // ANN quality CONTRACT: recall@10 of the IVF search against the exact
    // brute-force top-10 — THE standard ANN metric, here a deterministic
    // value (fixed data, fixed probe count, rounded tie-broken orderings
    // on both sides) the oracle re-derives end to end. The IVF side scans
    // 3 of 10 cells; recall measures exactly what that pruning costs.
    "emb_ivf_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val cell = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
      val probed = cell.orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      val ivf = emb.join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id").as("ivf_id"))
      Similarity.knn(emb, col("embedding"), col("vec_id"), qvec, 10)
        .select(col("vec_id"))
        .join(ivf, col("vec_id") === col("ivf_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6)
            .as("recall_at_10"))
    }),

    // IVF RECALL/COST CURVE — the rel_qsketch_cap_curve discipline
    // applied to ANN: measured recall@10 AND candidates-scanned cost at
    // nprobe = 1 / 4 / 10, in ONE set-based plan (cosines computed once
    // per candidate, the nprobe expansion is a 3-row broadcast). With 10
    // cells total, nprobe = 10 is the exhaustive probe, so its rung is
    // anchored: recall must be exactly 1.0 (required in-path, with
    // recall AND candidate-count monotonicity across rungs). The recall
    // arithmetic is exact integer overlap counting — fully
    // oracle-checked, the production tuning table an ANN deployment
    // reads to pick its operating point.
    "emb_ivf_nprobe_curve" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val cellRanked = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("ccos").desc, col("clabel").asc)))
        .select(col("clabel"), col("rn"))
      // cosines once per candidate vector; rungs attach by rn <= nprobe
      val scored = emb
        .join(broadcast(cellRanked), col("label") === col("clabel"))
        .select(col("vec_id"), col("rn"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
      val rungs = Seq(1L, 4L, 10L)
      val nps = s.createDataFrame(rungs.map(Tuple1(_)))
        .toDF("nprobe")
      val cand = scored.crossJoin(broadcast(nps))
        .where(col("rn") <= col("nprobe"))
      val nCand = cand.groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"))
      val ivfTop = cand.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("nprobe"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .where(col("rk") <= 10).select(col("nprobe"), col("vec_id"))
      val exact = Similarity.knn(emb, col("embedding"), col("vec_id"),
        qvec, 10).select(col("vec_id"))
      val overlap = ivfTop.join(exact, Seq("vec_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as("n_overlap"))
      val curve = nCand.join(overlap, Seq("nprobe"), "left_outer")
        .select(col("nprobe"), col("n_candidates"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / 10.0,
            6).as("recall_at_10"))
        .orderBy(col("nprobe"))
      val rows = curve.collect()
      require(rows.length == 3, s"expected 3 rungs, got ${rows.length}")
      require(rows.sliding(2).forall(p =>
        p(0).getLong(1) <= p(1).getLong(1) &&
          p(0).getLong(2) <= p(1).getLong(2)),
        s"curve not monotone in nprobe: ${rows.mkString("; ")}")
      require(rows.last.getLong(2) == 10L,
        s"exhaustive probe (nprobe=10 of 10 cells) must have recall 1.0: " +
          s"${rows.last}")
      curve
    }),

    // IVF×PQ COMPOSED SEARCH — the shape that actually serves
    // billion-vector ANN (Jégou et al. 2011's IVFADC): the coarse
    // quantizer routes the query to nprobe=3 of 10 cells, the PQ codes
    // score ONLY those cells' candidates through 4 asymmetric-distance
    // lookup tables (no raw vectors touched), and exact cosine re-ranks
    // just the 50-vector ADC shortlist. Per query the exact-arithmetic
    // cost drops from N vectors (brute force) to ~3N/10 (IVF raw, see
    // emb_ivf_search) to 50 (this composition) — the recall cost of the
    // two lossy stages is measured against both in
    // SimilarityQualitySpec. All distance math is the same
    // rounded-deterministic arithmetic as the component queries, so the
    // oracle replays routing, ADC, and re-rank end to end.
    "emb_ivfpq_search" -> ((s, dir) => ivfPqTop10(s, dir)),

    // QUALITY CONTRACT of the composition — recall@10 of IVF×PQ against
    // exact brute force, oracle-checked like emb_ivf_recall: the number
    // an ANN deployment reads before turning the composition on. The
    // two lossy stages (3-of-10-cell routing + PQ shortlist) price in
    // as exact-arithmetic overlap counting on both engines.
    "emb_ivfpq_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val ivfpq = ivfPqTop10(s, dir).select(col("vec_id").as("pq_id"))
      Similarity.knn(emb, col("embedding"), col("vec_id"), qvec, 10)
        .select(col("vec_id"))
        .join(ivfpq, col("vec_id") === col("pq_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          round(col("n_overlap").cast("double") / 10.0, 6)
            .as("recall_at_10"))
    }),

    // PERSISTED, INCREMENTALLY-MAINTAINED IVF×PQ INDEX — the production
    // ANN shape, composing the repo's two standing proofs:
    // emb_ivfpq_search (the IVFADC composition, built per query) and
    // dedup_txn_incremental_lsh (log-diff-driven index maintenance).
    // The index = one TABLE of (vec_id, cell, PQ codes) next to a
    // TxnLog'd vector store, under the FROZEN-MODEL discipline (coarse
    // centroids + PQ codebook train once on the corpus; codes are pure
    // per-vector functions of the model, so maintenance is
    // embarrassingly incremental and retrain is a separate, rarer
    // event). When the store moves v0 -> v1, `changedBetween` names
    // exactly the delta: encode ONLY the net-added objects' vectors,
    // anti-join away the net-removed ones — O(transaction) encoding
    // instead of the corpus. Required in-path: the maintained index
    // equals a from-scratch encode of snapshot v1, row for row
    // (merge == recompute). The search then serves from the STORED
    // codes: route to 3/10 cells, ADC-score only those cells' index
    // rows (no raw vectors touched), exact re-rank of the fixed
    // 50-vector shortlist against the SNAPSHOT. At 100 TB the index is
    // bytes-per-vector and a delete/ingest costs its own size.
    "emb_ivfpq_incremental" -> ((s, dir) => {
      import graft.sources.TxnLog
      val root = staged("txn_ivfpq")
      graft.streaming.StreamGate.deleteRecursively(root)
      val logDir = s"$root/_log"
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val cb = pqCodebook(s, dir) // frozen model, trained on the corpus
      // index rows: stored cell + PQ codes per vector (model-driven,
      // per-row — the encode is a scan, never a shuffle)
      def indexRows(in: DataFrame): DataFrame =
        Similarity.pqCodes(in, col("embedding"), col("vec_id"), cb,
            subDim = 16)
          .join(in.select(col("vec_id"), col("label")), "vec_id")
      // ONE partitioned write lays down all 3 vec-range objects
      // (txnLogStage staging discipline; contents identical to three
      // filtered writes)
      val Seq(oA, oB, oC) = stagePartitionedObjects(s, root, "e",
        emb.withColumn("bucket",
          when(col("vec_id") < 200, 0L)
            .when(col("vec_id") < 350, 1L).otherwise(2L)),
        nBuckets = 3)
      TxnLog.commit(s, logDir, 0L, adds = Seq(oA, oB), checkpointEvery = 2)
      // the standing index table, encoded once at v0 and persisted
      val indexDir = s"$root/index_v0"
      indexRows(TxnLog.readSnapshot(s, logDir, 0L))
        .write.mode("overwrite").parquet(indexDir)
      // v1: one transaction retires a slice and ingests a new one
      TxnLog.commit(s, logDir, 1L, adds = Seq(oC), removes = Seq(oB),
        checkpointEvery = 2)
      val (added, removed) =
        TxnLog.changedBetween(TxnLog.readLog(s, logDir), 0L, 1L)
      require(added == Seq(oC) && removed == Seq(oB),
        s"log diff should name exactly the v1 objects: +$added -$removed")
      // incremental maintenance: encode O(transaction) vectors only
      val retired = s.read.parquet(removed: _*).select(col("vec_id"))
      val index = s.read.parquet(indexDir)
        .join(retired, Seq("vec_id"), "left_anti")
        .unionByName(indexRows(s.read.parquet(added: _*)))
      // merge == recompute: the maintained index must equal the index a
      // from-scratch encode of snapshot v1 produces. ONE multiset-
      // equality pass (±1 per side, every per-tuple sum must be 0 —
      // the same property the two exceptAll probes checked) instead of
      // two: each exceptAll planned BOTH sides again, and with the PQ
      // codebook inlined as literals the duplicated plans dominated the
      // query's driver time.
      val scratch = indexRows(TxnLog.readSnapshot(s, logDir, 1L))
      val idxCols = index.columns.toSeq
      require(index.withColumn("_side", lit(1L))
        .unionByName(scratch.withColumn("_side", lit(-1L)))
        .groupBy(idxCols.map(col): _*)
        .agg(sum(col("_side")).as("_d"))
        .where(col("_d") =!= 0L)
        .isEmpty,
        "incremental IVF-PQ index diverged from the from-scratch encode")
      // serve the search FROM THE STORED INDEX at the same recall point
      // as the per-query build: coarse routing (frozen quantizer), ADC
      // over stored codes, exact re-rank of the shortlist vs the
      // snapshot
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val qarr = array(qvec.map(lit): _*)
      val qnorm = math.sqrt(qvec.map(x => x * x).sum)
      val probed = graft.ops.Similarity.centroids(
          emb, col("embedding"), col("label"))
        .select(col("grp").as("clabel"),
          round(Similarity.dot(col("centroid"), qarr) /
            (sqrt(Similarity.dot(col("centroid"), col("centroid"))) *
              lit(qnorm)), 6).as("ccos"))
        .orderBy(col("ccos").desc, col("clabel").asc)
        .limit(3).select("clabel")
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val dt: Seq[Seq[Double]] = cb.zipWithIndex.map { case (cents, j) =>
        val qs = qvec.slice(j * 16, (j + 1) * 16)
        cents.map { case (_, mv) =>
          r6(qs.zip(mv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
      }
      val adc = round(dt.zipWithIndex.map { case (tab, j) =>
        element_at(array(tab.map(lit): _*),
          (col(s"code_$j") + 1).cast("int"))
      }.reduce(_ + _), 6)
      val shortlist = index
        .join(broadcast(probed), col("label") === col("clabel"))
        .select(col("vec_id"), adc.as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
      TxnLog.readSnapshot(s, logDir, 1L)
        .join(broadcast(shortlist), "vec_id")
        .select(col("vec_id"), col("adc"),
          round(Similarity.cosine(col("embedding"), qarr), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
    }),

    // BPE-ish regex token count (letters / digit runs / punctuation marks)
    "text_bpe_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("n_bpe"))),

    // Reference-scale pipeline benchmarks: 100x-replicated document lines
    // (~500k rows at sf0.1 ~ the reference's 486,634-row input)
    // scale path: map-side TokenCountsAgg ticker mode (one Java split per
    // line, no per-ticker rows; same results as the declarative
    // fromLines, cross-checked in PipelineSpec)
    "stock_count_x100" -> ((s, dir) =>
      StockCount.fromLinesAgg(
        docLines(s, dir)
          .select(col("line"), explode(sequence(lit(0), lit(99))).as("rep"))
          .select(col("line").as("value")))),

    // scale path: map-side TokenCountsAgg, no per-token rows (same results
    // as fromLines — cross-checked in tests and by the shared oracle shape)
    "word_count_x100" -> ((s, dir) =>
      WordCount.fromLinesAgg(
        docLines(s, dir)
          .select(col("line"), explode(sequence(lit(0), lit(99))).as("rep"))
          .select(col("line").as("value")))),

    // ---- round 16: model evaluation / spatial / IVM-join / trend ----------

    // AUC-ROC — the threshold-free binary-classifier metric, computed by
    // the rank-sum identity AUC = U⁺/(n₁n₀) (a purchase/non-purchase
    // label against the integer-cents score). Scale-first shape shared
    // with rel_mann_whitney: ranks NEVER materialize per row — the
    // stream aggregates to DISTINCT score values (hash agg), the
    // GlobalScan prefix sum turns per-value counts into tie-averaged
    // ranks carried DOUBLED so they stay integral, and AUC folds out of
    // one aggregate row in decimal(38,0) = int128 exact algebra (ties
    // get the canonical ½ credit automatically via average ranks). One
    // double division at the end.
    "rel_auc_roc" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val d = events(s, dir).select(
          round(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy("v")
        .agg(sum(col("pos")).as("np"), count(lit(1)).as("n"))
      val r = graft.plans.GlobalScan.runningSum(d, "n", "v" -> false)
      val a = r.agg(
        sum(col("np")).as("n1"),
        sum(col("n") - col("np")).as("n0"),
        sum(d38(col("np")) *
          d38(lit(2L) * col("running") - col("n") + lit(1L))).as("ra2"))
      a.select(col("n1"), col("n0"),
        round((col("ra2") - d38(col("n1")) * d38(col("n1") + 1))
            .cast("double") /
          (lit(2.0) * col("n1").cast("double") * col("n0").cast("double")),
          6).as("auc"))
    }),

    // CALIBRATION / reliability bins — does the score mean what it
    // claims? Score in [0,1) derived as exact integer cents-mod-100 so
    // the equal-width binning is INTEGER arithmetic (no float-boundary
    // divergence between engines); per bin the mean score is an exact
    // integer sum divided once, and the positive rate an exact count
    // ratio. ONE hash aggregate over the stream; output is O(10) rows
    // at any scale. (sum(cents) < 100·N keeps the long sum safe past
    // 10^16 rows.)
    "rel_calibration_bins" -> ((s, dir) =>
      events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(col("pos")).as("sp"))
        .select(col("bin"), col("n"),
          round(col("sc").cast("double") / (lit(100.0) * col("n")), 6)
            .as("mean_score"),
          round(col("sp").cast("double") / col("n").cast("double"), 6)
            .as("pos_rate"))),

    // COHEN'S KAPPA — chance-corrected agreement between two binary
    // raters (order finality vs. pre-1998 vintage), the standard
    // label-quality gate for multi-annotator training data. The whole
    // statistic folds out of ONE count aggregate; po/pe/kappa are exact
    // integer algebra (products widened to decimal(38,0) = int128 — n²
    // passes Long.Max at ~3·10⁹ rows) down to one double division per
    // output column.
    "rel_cohens_kappa" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val o = tbl(s, dir, "orders").select(
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("a"),
        when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("b"))
      val m = o.agg(count(lit(1)).as("n"),
        sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
          .as("n00"),
        sum(col("a")).as("a1"), sum(col("b")).as("b1"))
      val agree = d38(col("n11") + col("n00"))
      val chance = d38(col("a1")) * d38(col("b1")) +
        (d38(col("n")) - d38(col("a1"))) * (d38(col("n")) - d38(col("b1")))
      m.select(col("n"),
        round((col("n11") + col("n00")).cast("double") /
          col("n").cast("double"), 6).as("po"),
        round(chance.cast("double") /
          (d38(col("n")) * d38(col("n"))).cast("double"), 6).as("pe"),
        round((d38(col("n")) * agree - chance).cast("double") /
          (d38(col("n")) * d38(col("n")) - chance).cast("double"), 6)
          .as("kappa"))
    }),

    // NDCG@10 — ranking quality of the value-score ordering against
    // graded relevance (purchase 3 > signup 2 > click 1), per user then
    // averaged. Uses the LINEAR discount 1/rank (declared deviation
    // from log₂ — and the reason every per-user NDCG is EXACT: gains
    // are rel·(2520 div rank) with 2520 = lcm(1..10), so DCG and ideal
    // DCG are integers and their ratio one deterministic division —
    // no cross-engine libm log in a boundary-sensitive compare). Both
    // rank and ideal rank come from row_number windows PARTITIONED by
    // user (one shuffle, two sorts, fully distributed); users with no
    // relevant event are excluded (ideal DCG 0).
    "rel_ndcg_eval" -> ((s, dir) => {
      val byScore = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("score").desc, col("event_id").asc)
      val byRel = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("rel").desc, col("event_id").asc)
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("score"),
        when(col("event_type") === "purchase", 3L)
          .when(col("event_type") === "signup", 2L)
          .when(col("event_type") === "click", 1L).otherwise(0L).as("rel"))
      e.select(col("user_id"), col("rel"),
          row_number().over(byScore).as("rk"),
          row_number().over(byRel).as("irk"))
        .groupBy("user_id")
        .agg(
          sum(when(col("rk") <= 10, col("rel") * expr("2520 div rk"))
            .otherwise(0L)).as("dcg"),
          sum(when(col("irk") <= 10, col("rel") * expr("2520 div irk"))
            .otherwise(0L)).as("idcg"))
        .where(col("idcg") > 0)
        // per-user NDCG in exact integer micros — half-up rounding of
        // dcg·10⁶/idcg via (2p+q) div 2q — so the corpus mean is ONE
        // exact long sum to one double division; a double avg() over
        // per-user ndcgs would be partial-merge-order dependent and
        // could flip the 6th decimal cross-engine at large user counts
        .select(expr("(dcg * 2000000 + idcg) div (idcg * 2)").as("micros"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("micros")).cast("double") /
            (count(lit(1)) * 1000000L).cast("double"), 6).as("mean_ndcg"))
    }),

    // GRID-BUCKETED RADIUS JOIN — the canonical spatial join at scale:
    // points land in cells of side R, and a pair within distance R can
    // only meet in the 3×3 cell neighborhood, so the candidate join is
    // an EQUI-join on cell id with one side exploded ×9 — NEVER a cross
    // join; per-cell density (not corpus size) bounds the verify work.
    // Coordinates derive from keys by integer congruences and the
    // radius check is exact integer dx²+dy² ≤ R², so both engines agree
    // bit-for-bit with no trig/float boundary. Output aggregates pin
    // the full pair set (count + exact distance-square sum).
    "rel_geo_radius_join" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val R = 5000L
      val cust = tbl(s, dir, "customer").select(
        col("c_custkey").as("ck"),
        ((col("c_custkey") * 48271L) % 100000L).as("cx"),
        ((col("c_custkey") * 69621L) % 100000L).as("cy"))
      val supp = tbl(s, dir, "supplier").select(
        col("s_suppkey").as("sk"),
        ((col("s_suppkey") * 48271L + 12345L) % 100000L).as("sx"),
        ((col("s_suppkey") * 69621L + 54321L) % 100000L).as("sy"))
      val offs = for { dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L) }
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
      val custCells = cust
        .withColumn("off", explode(array(offs: _*)))
        .select(col("ck"), col("cx"), col("cy"),
          (expr(s"cx div $R") + col("off.dx")).as("gx"),
          (expr(s"cy div $R") + col("off.dy")).as("gy"))
      val suppCells = supp.select(col("sk"), col("sx"), col("sy"),
        expr(s"sx div $R").as("gx"), expr(s"sy div $R").as("gy"))
      val d2 = (col("cx") - col("sx")) * (col("cx") - col("sx")) +
        (col("cy") - col("sy")) * (col("cy") - col("sy"))
      custCells.join(suppCells, Seq("gx", "gy"))
        .where(d2 <= lit(R * R))
        .select(col("ck"), col("sk"), d2.as("d2"))
        .agg(count(lit(1)).as("n_pairs"),
          // exact int128 sum cast once: both engines round the SAME
          // exact integer to double, so the compare is deterministic
          sum(d38(col("d2"))).cast("double").as("sum_d2"),
          min(col("d2")).as("min_d2"))
    }),

    // IVM of a JOIN view — rel_ivm_agg's big sibling: the maintained
    // view is an AGGREGATE OVER A JOIN (revenue per customer nation),
    // and the delta batch only ever joins the DELTA side against the
    // dimension — O(delta), never a history rescan (the join-view
    // distributivity that makes materialized marts affordable at
    // 100 TB). Merge = full-outer coalesced algebra over the two
    // partial aggregates; the oracle recomputes the view from scratch —
    // IVM's contract is exactly "merge equals recompute". Money rides
    // as exact decimal cents to one presentational cast.
    "rel_ivm_join" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val cut = lit("2001-01-01").cast("timestamp")
      val cust = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = tbl(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      def view(df: DataFrame) =
        df.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey").agg(sum(d38(col("cents"))).as("rev"))
      val base = view(ord.where(col("o_orderdate") < cut))
        .select(col("c_nationkey").as("k0"), col("rev").as("r0"))
      val delta = view(ord.where(col("o_orderdate") >= cut))
        .select(col("c_nationkey").as("k1"), col("rev").as("r1"))
      base.join(delta, col("k0") === col("k1"), "full_outer")
        .select(coalesce(col("k0"), col("k1")).as("c_nationkey"),
          (coalesce(col("r0"), lit(0).cast("decimal(38,0)")) +
            coalesce(col("r1"), lit(0).cast("decimal(38,0)")))
            .cast("double").as("rev_cents"))
    }),

    // ISOTONIC CALIBRATION (PAV) — the monotone fit over the
    // reliability bins, via the MINIMAX characterization of isotonic
    // regression: fit_i = max_{j<=i} min_{k>=i} wmean(rate over
    // [j..k]). One data-sized hash aggregate shrinks the stream to 10
    // bins; every interval mean is an exact integer ratio (one double
    // division each), and the minimax runs over O(bins³) tiny rows at
    // ANY scale — the sequential pool-adjacent-violators loop becomes
    // three joins over a constant-size frame, nothing sequential left.
    "rel_isotonic_fit" -> ((s, dir) => {
      val bins = events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("sp"))
        .localCheckpoint(false) // tiny; feeds four self-joins
      val jk = bins.select(col("bin").as("j"))
        .crossJoin(broadcast(bins.select(col("bin").as("k"))))
        .where(col("j") <= col("k"))
      val a = jk.join(broadcast(bins),
          col("bin") >= col("j") && col("bin") <= col("k"))
        .groupBy("j", "k")
        .agg((sum(col("sp")).cast("double") / sum(col("n")).cast("double"))
          .as("av"))
      val m = bins.select(col("bin").as("i"))
        .join(broadcast(a), col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j").agg(min(col("av")).as("mn"))
      val fit = m.groupBy("i").agg(max(col("mn")).as("fit"))
      bins.join(broadcast(fit), col("bin") === col("i"))
        .select(col("bin"), col("n"),
          round(col("sp").cast("double") / col("n").cast("double"), 6)
            .as("raw_rate"),
          round(col("fit"), 6).as("fit_rate"))
    }),

    // POISSONIZED BOOTSTRAP CI — the only bootstrap that works at
    // 100 TB: instead of resampling rows (a global shuffle per
    // replica), every row draws a DETERMINISTIC Poisson(1) weight per
    // replica — ONE md5 per row seeds the draw, then each replica is a
    // cheap affine mod-(2³¹−1) remix of that seed (constants shared
    // verbatim with the oracle via [[bootMix]]) — and all 20 replicas
    // ride ONE aggregate as 2B sum COLUMNS over the un-exploded row
    // stream: zero data movement, one crypto hash per ROW (not per row
    // × replica), one partial-agg row per partition in the shuffle.
    // Replica means are exact-integer ratios; the CI is the 2nd/19th
    // order statistic of the 20 means. B rides in the column width,
    // never in the row count or the shuffle.
    "rel_bootstrap_ci" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      // Poisson(1) inverse CDF over u ∈ [0,1): identical literal
      // thresholds on both engines
      def pois(u: Column): Column =
        when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .when(u < 0.9994058151824183, 5L).otherwise(6L)
      val o = tbl(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // replicas as COLUMNS, not exploded rows: the B-way explode
      // multiplied the stream B-fold (3M rows at sf0.1) just to regroup
      // it by replica id — instead every row carries its B weight/
      // weighted-cent terms and ONE aggregate computes all 2B sums
      // map-side (same decimal addends, exact integer sums are
      // order-independent, so every replica mean is bit-identical).
      // Measured 3.0 -> 0.9 s solo at sf0.1; B still never touches the
      // shuffle, which stays one partial-agg row per partition.
      val withW = o
        .select(col("cents"),
          (conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
            16, 10).cast("long") % BootP).as("x"))
        .select(bootMix.map { case (b, a, c) =>
          val w = pois(((lit(a) * col("x") + lit(c)) % BootP)
            .cast("double") / lit(BootP.toDouble))
          struct(d38(w * col("cents")).as("wc"), w.as("w")).as(s"r$b")
        }: _*)
      val sumCols = bootMix.map { case (b, _, _) =>
        sum(col(s"r$b").getField("wc")).as(s"swc_$b")
      } ++ bootMix.map { case (b, _, _) =>
        sum(col(s"r$b").getField("w")).as(s"sw_$b")
      }
      val means = withW.agg(sumCols.head, sumCols.tail: _*)
        .select(sort_array(array(bootMix.map { case (b, _, _) =>
          col(s"swc_$b").cast("double") / col(s"sw_$b").cast("double")
        }: _*)).as("ms"))
      val point = o.agg(
        (sum(d38(col("cents"))).cast("double") /
          count(lit(1)).cast("double")).as("mean_cents"))
      point.crossJoin(broadcast(means))
        .select(round(col("mean_cents"), 6).as("mean_cents"),
          round(element_at(col("ms"), 2), 6).as("boot_lo"),
          round(element_at(col("ms"), 19), 6).as("boot_hi"),
          size(col("ms")).cast("long").as("n_replicas"))
    }),

    // SEASONAL SMOOTHING — 24 independent hour-of-day EWMA chains over
    // the daily series (the seasonal component of Holt-Winters, kept
    // exactly replayable): each slot's day sequence is bounded by the
    // CALENDAR, not the data, so the per-slot fold is a bounded
    // codegen'd array aggregate; the seasonal index normalizes by the
    // cross-slot mean (one broadcast scalar). Both engines fold the
    // same literal IEEE sequence (0.75·acc + 0.25·x from a 0 seed).
    "rel_seasonal_smoothing" -> ((s, dir) => {
      val daily = events(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .groupBy("hod", "day").agg(count(lit(1)).cast("double").as("x"))
      val sm = daily.groupBy("hod")
        .agg(array_sort(collect_list(struct(col("day"), col("x"))))
          .as("seq"))
        .select(col("hod"),
          aggregate(col("seq"), lit(0.0),
            (acc, el) => lit(0.75) * acc + lit(0.25) * el.getField("x"))
            .as("ew"))
        .localCheckpoint(false) // 24 rows; feeds the mean and the output
      sm.crossJoin(broadcast(sm.agg(avg(col("ew")).as("mu"))))
        .select(col("hod"), round(col("ew"), 6).as("ewma"),
          round(col("ew") / col("mu"), 6).as("seasonal_idx"))
    }),

    // AMS/CMS SELF-JOIN SIZE (F₂) — join-size estimation from a
    // Count-Min inner product: the optimizer-statistics primitive that
    // prices a self-join WITHOUT computing it. The sketch side is 5
    // rows × 1024 buckets of map-side-combined counters (shuffle =
    // 5·1024 rows at any scale) vs the exact side's distinct-key
    // shuffle; est = min over rows of Σ counter² NEVER underestimates
    // (collisions only add), pinned by spec and by the oracle
    // replaying the identical mod-(2³¹−1) bucket hashes in SQL.
    "rel_cms_selfjoin_size" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val P = 2147483647L
      val hp = Seq((0L, 1103515245L, 12345L), (1L, 1140671485L, 12820163L),
        (2L, 134775813L, 1L), (3L, 214013L, 2531011L),
        (4L, 16843009L, 826366247L))
      val keys = tbl(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the exact side and the sketch side
      val exact = keys.agg(sum(d38(col("c")) * col("c")).as("f2x"))
      val buckets = keys
        .withColumn("h", explode(array(hp.map { case (j, a, b) =>
          struct(lit(j).as("j"), lit(a).as("a"), lit(b).as("b")) }: _*)))
        .select(col("h.j").as("j"),
          (((col("h.a") * (col("k") % P) + col("h.b")) % P) % 1024L)
            .as("bkt"),
          col("c"))
        .groupBy("j", "bkt").agg(sum(col("c")).as("cb"))
      val est = buckets.groupBy("j")
        .agg(sum(d38(col("cb")) * col("cb")).as("f2j"))
        .agg(min(col("f2j")).as("f2e"))
      exact.crossJoin(broadcast(est))
        .select(col("f2x").cast("double").as("f2_exact"),
          col("f2e").cast("double").as("f2_est"),
          round(col("f2e").cast("double") / col("f2x").cast("double"), 6)
            .as("blowup"))
    }),

    // STREAMING CALIBRATION — rel_calibration_bins maintained LIVE:
    // the 10-bin (count, score-sum, positive-count) state updates
    // incrementally over the streamed events (complete mode, 10 rows
    // of bounded state); every counter is associative, so the
    // unordered replay provably equals the batch bins — which IS the
    // oracle. The model-quality dashboard shape: metrics stay current
    // without ever rescanning history.
    "stream_calibration_bins" -> ((s, dir) => {
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
    }),

    // WITHIN-DOC REPETITION SCORE — the Gopher rep-ngram signal the
    // quality gates don't cover: the fraction of DUPLICATE 3-token
    // shingles inside each document (natural prose repeats almost
    // none; boilerplate and spam repeat heavily). Pure map-side work
    // over the same shingle definition the dedup chain uses — one
    // codegen'd pass, no shuffle at all.
    "text_repetition_score" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.shingles(col("text")).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
            size(col("sh")).cast("double"), 6).as("rep_ratio"))),

    // SQL-INTERFACE PARITY — the library's full ANSI SQL surface comes
    // free from Spark: register the table as a view and run the Q1
    // pricing-summary shape as a SQL STRING through spark.sql. Same
    // partial+final hash-aggregate plan as the DataFrame twin
    // (Catalyst compiles both to one plan space); money sums exact
    // decimal to one presentational cast. avg_disc follows the repo's
    // exact-sum-to-one-division convention: a raw double avg() is
    // summation-order dependent (partial-merge order differs run to
    // run and engine to engine), so the discount sums as an exact
    // decimal and divides by the count ONCE in double.
    "rel_sql_interface" -> ((s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               cast(count(*) AS bigint) AS n,
               cast(sum(cast(l_quantity AS decimal(18,2))) AS double)
                 AS sum_qty,
               round(cast(cast(sum(cast(l_discount AS decimal(18,4)))
                               AS decimal(18,4)) AS double) / count(*), 6)
                 AS avg_disc
        FROM graft_lineitem
        WHERE l_shipdate < timestamp'1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")
    }),

    // SQL-STRING TWINS OF THE Global* REWRITE FAMILIES — the session
    // extensions (GraftExtensions.inject, the one registration path)
    // inject optimizer rules, so the distributed-window rewrites must
    // fire on ANY logical plan, however it was built. rel_sql_interface proved the hash-aggregate
    // shape reaches SQL users; these six prove the custom-operator
    // surface does too: each is the textbook un-partitioned window
    // written as an ANSI SQL STRING through spark.sql, one per rewrite
    // family, and PlanAuditSpec pins that the PARSED plan executes as
    // the distributed Global* operator (GlobalScan / GlobalRank /
    // GlobalShift / GlobalEdge / GlobalFrame / GlobalRange) with no
    // single-partition WindowExec stage — a SQL user gets the same
    // 100 TB plan as a DataFrame user, with zero extra API.

    // Prefix sum from SQL → GlobalScan (twin of rel_running_revenue).
    "rel_sql_running_sum" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, cents,
               sum(cents) OVER (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS running_cents
        FROM (SELECT o_orderkey,
                     cast(round(o_totalprice * 100) AS bigint) AS cents
              FROM graft_sql_orders)""")
    }),

    // Global row_number from SQL → GlobalRank (twin of
    // rel_global_rank_plan, which builds the operator directly).
    "rel_sql_global_rank" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id, value,
               row_number() OVER (ORDER BY value DESC, event_id) AS rank
        FROM graft_sql_events""")
    }),

    // Global lag from SQL → GlobalShift (twin of rel_running_delta).
    "rel_sql_shift_delta" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)""")
    }),

    // Global first_value from SQL → GlobalEdge (twin of rel_first_value).
    "rel_sql_edge_first" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice,
               first_value(o_totalprice)
                 OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        FROM graft_sql_orders""")
    }),

    // Bounded ROWS frame from SQL → GlobalFrame (twin of
    // rel_frame_moving_sum).
    "rel_sql_frame_sum" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               sum(v) OVER w AS mov_sum,
               count(v) OVER w AS mov_n
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)
        WINDOW w AS (ORDER BY t, event_id
                     ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)""")
    }),

    // Bounded value-RANGE frame from SQL → GlobalRange (twin of
    // rel_range_trailing_global). Tie groups over t are included whole
    // by RANGE semantics, so sum/count are deterministic without an
    // event_id tiebreak.
    "rel_sql_range_trailing" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               sum(v) OVER r AS rev_5s,
               count(v) OVER r AS n_5s
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)
        WINDOW r AS (ORDER BY t
                     RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)""")
    }),

    // Native TYPED AGGREGATE from a SQL string — the injected function
    // surface: GraftExtensions.inject puts graft_kmv_sketch (and the
    // other natives) into the function registry as the session is
    // built, so a SQL
    // user builds the bounded sketch with no DataFrame API at all; the
    // estimator is plain SQL over the returned array. Oracle = the
    // k-smallest construction in DuckDB, value-exact.
    "rel_sql_sketch_agg" -> ((s, dir) => {
      events(s, dir).select(col("event_type"),
        thetaHash((col("user_id") * 100000L +
          unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .createOrReplaceTempView("graft_sql_hashes")
      s.sql("""
        SELECT event_type,
               cast(size(ks) AS bigint) AS n_kept,
               round(CASE WHEN size(ks) < 128
                          THEN cast(size(ks) AS double)
                          ELSE 127.0 * 1152921504606846976
                               / cast(element_at(ks, 128) AS double) END,
                     4) AS est
        FROM (SELECT event_type, graft_kmv_sketch(h, 128) AS ks
              FROM graft_sql_hashes GROUP BY event_type)""")
    }),

    // O(k) SKETCH-COLUMN MERGE from a SQL string — the reachability
    // twin of graft_kmv_merge: daily graft_kmv_sketch partials merged
    // per segment by graft_kmv_merge, both stages raw SQL. Lossless
    // merge ⇒ the same from-scratch oracle as rel_sql_sketch_agg.
    "rel_sql_kmv_merge" -> ((s, dir) => {
      events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("day"),
        thetaHash((col("user_id") * 100000L +
          unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .createOrReplaceTempView("graft_sql_day_hashes")
      s.sql("""
        SELECT event_type,
               cast(size(ks) AS bigint) AS n_kept,
               round(CASE WHEN size(ks) < 128
                          THEN cast(size(ks) AS double)
                          ELSE 127.0 * 1152921504606846976
                               / cast(element_at(ks, 128) AS double) END,
                     4) AS est
        FROM (SELECT event_type, graft_kmv_merge(ks, 128) AS ks
              FROM (SELECT event_type, day,
                           graft_kmv_sketch(h, 128) AS ks
                    FROM graft_sql_day_hashes GROUP BY event_type, day)
              GROUP BY event_type)""")
    }),

    // QUANTILE SKETCH from a SQL string — reachability twin covering
    // BOTH new aggregates: daily graft_qsketch partials merged per
    // segment by graft_qsketch_merge, readout (quantile ranks +
    // contents string) in plain SQL over the wire-format array.
    // Lossless merge ⇒ the same from-scratch oracle as
    // rel_quantile_sketch.
    "rel_sql_qsketch" -> ((s, dir) => {
      events(s, dir).select(col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("day"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .createOrReplaceTempView("graft_sql_qs_rows")
      s.sql("""
        SELECT event_type,
               element_at(qs, 1) AS lvl,
               cast(size(vals) AS bigint) AS n_kept,
               element_at(vals, cast(ceil(size(vals) * 0.5) AS int))
                 AS p50_cents,
               element_at(vals, cast(ceil(size(vals) * 0.95) AS int))
                 AS p95_cents,
               concat_ws(';', cast(qs AS array<string>)) AS contents
        FROM (
          SELECT event_type, qs,
                 array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))
                   AS vals
          FROM (SELECT event_type, graft_qsketch_merge(qs, 256) AS qs
                FROM (SELECT event_type, day,
                             graft_qsketch(h, cents, 256) AS qs
                      FROM graft_sql_qs_rows GROUP BY event_type, day)
                GROUP BY event_type))""")
    }),

    // rank() WITH TIES from SQL → GlobalTies (twin of
    // rel_global_rank_ties).
    "rel_sql_rank_ties" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_sql_orders")
      s.sql("""
        SELECT o_orderkey, cast(o_orderdate AS date) AS d,
               rank() OVER (ORDER BY cast(o_orderdate AS date)) AS rnk
        FROM graft_sql_orders""")
    }),

    // The MIXED-family single window from SQL → GlobalWindowRule stacks
    // rank/ties/shift/edge/prefix/sliding onto one shared sort (twin of
    // rel_window_mixed_global). The analyzer groups the same-spec
    // functions into one Window node regardless of plan source.
    "rel_sql_window_mixed" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_id,
               cast(row_number() OVER (ORDER BY t, event_id) AS bigint)
                 AS rn,
               cast(rank() OVER (ORDER BY t, event_id) AS bigint) AS rnk,
               sum(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run_total,
               lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v,
               first_value(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS first_v,
               round(avg(v) OVER (ORDER BY t, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        FROM (SELECT unix_micros(ts) AS t, event_id,
                     CASE WHEN event_type <> 'error'
                          THEN cast(round(value * 1000) AS bigint) END AS v
              FROM graft_sql_events)""")
    }),

    // SQL-STRING TWINS OF THE REMAINING NATIVE AGGREGATES — the
    // injected-function surface beyond graft_kmv_sketch: Misra-Gries,
    // CMS merge+estimate, bitmap exact distinct, and the vector mean
    // each reachable from a raw ANSI SQL string with no DataFrame API,
    // value-checked by the same oracles as their DataFrame twins.

    // Misra-Gries candidates -> exact two-pass heavy hitters, all from
    // SQL (twin of rel_heavy_hitters). The MG map's keys are a
    // guaranteed superset of every token with count > N/50 (cap 64 >=
    // k-1), so the exact join + HAVING returns the naive groupBy/HAVING
    // answer; the candidate frame is <= 64 rows, which AQE broadcasts
    // by stats — the only key-shuffle carries candidate tokens only.
    "rel_sql_misra_gries" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(explode(Dedup.cleanTokens(col("text"))).as("token"))
        .createOrReplaceTempView("graft_sql_tokens")
      s.sql("""
        WITH cand AS (
          SELECT graft_misra_gries(token, 64) AS m,
                 cast(count(*) AS bigint) AS n
          FROM graft_sql_tokens
        ),
        k AS (SELECT explode(map_keys(m)) AS token, n FROM cand)
        SELECT t.token, cast(count(*) AS bigint) AS cnt
        FROM graft_sql_tokens t JOIN k ON t.token = k.token
        GROUP BY t.token, k.n
        HAVING count(*) * 50 > k.n""")
    }),

    // Daily CMS partials merged by graft_cms_merge, probed by
    // graft_cms_estimate — the rel_cms_merge_bounded sandwich
    // (exact <= est <= exact + eps*N), entirely from SQL.
    // SEED/DATA COUPLING (same caveat as rel_cms_merge_bounded): the
    // within_eps=1 oracle relies on this CMS (eps=0.001, delta=0.001,
    // seed=42) never overshooting eps*N for any event_type on the
    // CURRENT testdata. The eps bound itself holds only with
    // probability 1-delta per probe — deterministic here because the
    // seed and data are fixed, but REGENERATING the test datasets could
    // legitimately flip a probe to 0; that would be a data-vs-sketch
    // coincidence expiring, not an engine bug. If it fires, widen the
    // upper bound to the delta-exempt `exact + 2*eps*N` on both engines.
    "rel_sql_cms_merge" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        WITH daily AS (
          SELECT to_date(ts) AS day,
                 count_min_sketch(event_type, 0.001d, 0.999d, 42) AS cms,
                 cast(count(*) AS bigint) AS n
          FROM graft_sql_events GROUP BY to_date(ts)
        ),
        exact AS (
          SELECT event_type, cast(count(*) AS bigint) AS exact
          FROM graft_sql_events GROUP BY event_type
        )
        SELECT /*+ BROADCAST(m) */ e.event_type,
               cast(graft_cms_estimate(m.cms, e.event_type)
                    BETWEEN e.exact
                        AND e.exact + cast(ceil(m.n * 0.001) AS bigint)
                    AS bigint) AS within_eps
        FROM exact e CROSS JOIN (
          SELECT graft_cms_merge(cms) AS cms, sum(n) AS n FROM daily) m""")
    }),

    // Exact segmented distinct via the bitmap aggregate family from SQL
    // (twin of rel_bitmap_distinct): per-bucket fixed-size bitmaps,
    // lossless popcount rollup — O(buckets) shuffle bytes, exact.
    "rel_sql_bitmap_distinct" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("graft_sql_events")
      s.sql("""
        SELECT event_type, cast(sum(bitmap_count(bm)) AS bigint) AS n_users
        FROM (SELECT event_type,
                     bitmap_construct_agg(bitmap_bit_position(user_id))
                       AS bm
              FROM graft_sql_events
              GROUP BY event_type, bitmap_bucket_number(user_id))
        GROUP BY event_type""")
    }),

    // Per-label embedding centroid via the native graft_vec_mean
    // aggregate from SQL (one ~17 KB-buffer hash aggregate, partial +
    // final); posexplode to (label, pos, m) rows — 1-based pos to match
    // the oracle's generate_subscripts — rounded to 6 like the
    // emb_centroid_shift precedent.
    "rel_sql_vec_mean" -> ((s, dir) => {
      tbl(s, dir, "embeddings")
        .createOrReplaceTempView("graft_sql_embeddings")
      s.sql("""
        SELECT label, cast(pos + 1 AS bigint) AS pos, round(x, 6) AS m
        FROM (SELECT label, graft_vec_mean(embedding) AS c
              FROM graft_sql_embeddings GROUP BY label)
        LATERAL VIEW posexplode(c) p AS pos, x""")
    }),

    // THETA/KMV SKETCH SET-OPERATION FAMILY — distinct counts of
    // UNION / INTERSECTION / DIFFERENCE across segments from bounded
    // mergeable sketches (the DataSketches Theta framework's estimator,
    // k smallest distinct 60-bit hashes): the only way set-expression
    // cardinalities stay tractable at 100 TB, where the exact answer
    // needs a corpus-wide distinct shuffle PER EXPRESSION but the
    // sketches are built once (k longs per segment, map-side partial
    // aggregation via the native KmvSketchAgg) and combined in O(k).
    // Entities are "user-day" activity keys; hashes are md5-derived so
    // the DuckDB oracle reproduces the sketch BIT-EXACTLY — the
    // estimates are oracle-checked values, not just bounded claims.
    // Exact counts ride along in each output as accuracy evidence
    // (k=128 → rsd ~9%).

    // Per-segment distinct estimate: the base sketch + estimator.
    "rel_theta_sketch_distinct" -> ((s, dir) => {
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      base.select(col("event_type"), col("key"),
        thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"), countDistinct(col("key")).as("exact"))
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"),
          col("exact"))
    }),

    // Union via MERGE of per-day partial sketches (click ∪ purchase):
    // the sketches a pipeline stores per segment re-combine without a
    // rescan, and KMV merge is LOSSLESS (every global k-smallest hash is
    // retained by its own day's sketch) — so the merged estimate is
    // oracle-checked against the k-smallest of the union computed
    // directly.
    "rel_theta_union_merge" -> ((s, dir) => {
      val k = 128
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(to_date(col("ts")).as("day"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val daily = base.select(col("day"), thetaHash(col("key")).as("h"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val merged = daily.select(explode(col("ks")).as("h"))
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val exact = base.agg(countDistinct(col("key")).as("exact"))
      merged.crossJoin(broadcast(exact))
        .select(size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"),
          col("exact"))
    }),

    // Intersection estimate (click ∩ purchase user-days): θ = min of the
    // two segment thetas; each retained set is a COMPLETE distinct
    // sample below its own θ, so |kA ∩ kB below θ| / (θ/2^60) estimates
    // the overlap — two O(k) arrays combined on the executor, no rescan.
    "rel_theta_intersect" -> ((s, dir) => {
      val k = 128
      val p60 = 1152921504606846976L // 2^60: θ of a sub-k (exact) sketch
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      val exact = base.groupBy("key")
        .agg(countDistinct(col("event_type")).as("nt"))
        .where(col("nt") === 2).agg(count(lit(1)).as("exact"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exact))
        .withColumn("theta", least(
          when(size(col("ka")) < k, lit(p60))
            .otherwise(element_at(col("ka"), k)),
          when(size(col("kb")) < k, lit(p60))
            .otherwise(element_at(col("kb"), k))))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("s_inter"),
          round(col("s_inter").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est"),
          col("exact"))
    }),

    // Difference estimate (click ∖ purchase): below θ the B-sample is
    // complete, so "h ∉ kB" is an exact non-membership test there —
    // |{h ∈ kA : h < θ, h ∉ kB}| / (θ/2^60).
    "rel_theta_diff" -> ((s, dir) => {
      val k = 128
      val p60 = 1152921504606846976L
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      val exact = base.groupBy("key")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("has_a"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("has_b"))
        .where(col("has_a") === 1L && col("has_b") === 0L)
        .agg(count(lit(1)).as("exact"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exact))
        .withColumn("theta", least(
          when(size(col("ka")) < k, lit(p60))
            .otherwise(element_at(col("ka"), k)),
          when(size(col("kb")) < k, lit(p60))
            .otherwise(element_at(col("kb"), k))))
        .withColumn("s_diff",
          size(expr("filter(array_except(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("s_diff"),
          round(col("s_diff").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est"),
          col("exact"))
    }),

    // WOE / INFORMATION VALUE — the credit-scoring feature evaluator:
    // decile-bin the feature (event value), then per bin
    // WOE = ln((pos_i/P)/(neg_i/N)) and IV = Σ (pos_i/P − neg_i/N)·WOE.
    // Labels: purchase vs view. ONE pass bins (GlobalTies ntile under
    // the extension rewrite — no single-partition stage), one hash
    // aggregate per bin; counts are exact integers, the ln happens once
    // per BIN (10 rows) and rounds to 6 like the BM25 precedent.
    // Laplace-smoothed ((x+0.5)/(T+0.5), identically in the oracle) so
    // a pure bin (zero positives or negatives) yields a finite WOE
    // instead of engine-dependent ln(0) behavior.
    "rel_woe_iv" -> ((s, dir) => {
      val base = events(s, dir)
        .where(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("value"),
          (col("event_type") === "purchase").cast("long").as("pos"))
        .withColumn("bin", ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("value"), col("event_id"))).cast("long"))
      val bins = base.groupBy("bin")
        .agg(sum(col("pos")).as("p_i"),
          (count(lit(1)) - sum(col("pos"))).as("n_i"))
      val tot = base.agg(sum(col("pos")).as("p_tot"),
        (count(lit(1)) - sum(col("pos"))).as("n_tot"))
      val pr = (col("p_i").cast("double") + lit(0.5)) /
        (col("p_tot").cast("double") + lit(0.5))
      val nr = (col("n_i").cast("double") + lit(0.5)) /
        (col("n_tot").cast("double") + lit(0.5))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("p_i"), col("n_i"),
          round(log(pr / nr), 6).as("woe"),
          round((pr - nr) * log(pr / nr), 6).as("iv_i"))
    }),

    // ROLLING 7-DAY ACTIVE USERS — the WAU curve: distinct users active
    // in [d-6, d] per day. COUNT DISTINCT has no window form; the
    // distributed shape is the bounded fan-out: each (user, active-day)
    // contributes to exactly 7 observation days (explode factor = the
    // window length, constant), then ONE day-keyed distinct aggregate.
    // Never a per-day self-join, never corpus² — at 100 TB this is
    // 7× the (user,day) DISTINCT frame, not 7× the events.
    "rel_rolling_active_users" -> ((s, dir) => {
      val userDays = events(s, dir)
        .select(col("user_id"),
          unix_date(to_date(col("ts"))).cast("long").as("day"))
        .distinct()
      val span = userDays.agg(min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      userDays
        .select(col("user_id"),
          explode(expr("sequence(day, day + 6)")).as("obs_day"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        .agg(countDistinct(col("user_id")).as("wau"))
        .select(col("obs_day"), col("wau"))
    }),

    // ROLLING DISTINCT VIA MERGEABLE SKETCH PARTIALS — the scale twin of
    // rel_rolling_active_users. The exact query ships every
    // (user, obs_day) pair through the shuffle: O(users × 7) rows, with
    // a countDistinct state per window. Here each day is first reduced
    // to ONE k-long KMV partial (map-side bounded state), and the
    // 7-day window is a merge-at-read over those partials: the sliding
    // explode fans out O(days × 7) sketch rows — k longs each,
    // INDEPENDENT of user count — so the window stage costs
    // O(days × 7 × k) regardless of corpus size. KMV merge is lossless
    // (the global k smallest distinct hashes of a union are each among
    // their own day's k smallest), so the merged window sketch EQUALS
    // the from-scratch sketch of the window's users — which is exactly
    // what the DuckDB oracle computes, bit-for-bit (md5-derived hash).
    "rel_rolling_wau_sketch" -> ((s, dir) => {
      val k = 128
      val daily = events(s, dir)
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("user_id").cast("long")).as("h"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val span = daily.agg(max(col("day")).as("d1"))
      daily
        .select(explode(expr("sequence(day, day + 6)")).as("obs_day"),
          col("ks"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        // O(k) column merge (graft_kmv_merge): the window stage ships
        // O(days × 7) sketch ROWS, never explodes them back to hashes
        .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
          .as("ks"))
        .select(col("obs_day").cast("long").as("obs_day"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"))
    }),

    // ROLLING p95 DASHBOARD FROM QUANTILE-SKETCH PARTIALS — the
    // quantile sibling of rel_rolling_wau_sketch: each day reduces to
    // ONE 256-cap qsketch partial, and every observation day's
    // trailing-7-day p50/p95 is an O(cap) merge of seven partials —
    // the window stage costs O(days × 7 × cap) REGARDLESS of event
    // volume, where an exact rolling percentile would re-rank 7 days
    // of raw values per window. The merge is lossless (minimal-level
    // identity), so each window's sketch — contents included — equals
    // the from-scratch sketch of the window's raw rows, which is what
    // the oracle computes.
    "rel_rolling_p95_sketch" -> ((s, dir) => {
      val cap = 256
      val daily = events(s, dir)
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("day")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
      val span = daily.agg(max(col("day")).as("d1"))
      daily
        .select(explode(expr("sequence(day, day + 6)")).as("obs_day"),
          col("qs"))
        .crossJoin(broadcast(span))
        .where(col("obs_day") <= col("d1")) // no post-horizon days
        .groupBy("obs_day")
        .agg(graft.functions.GraftFunctions
          .qsketchMerge(col("qs"), cap).as("qs"))
        .select(col("obs_day"), col("qs"),
          expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
            .as("vals"))
        .select(col("obs_day").cast("long").as("obs_day"),
          element_at(col("qs"), 1).as("lvl"),
          size(col("vals")).cast("long").as("n_kept"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
            .as("p50_cents"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
            .as("p95_cents"),
          concat_ws(";", col("qs").cast("array<string>")).as("contents"))
    }),

    // FEATURE HASHING (the "hashing trick") — the fixed-dimension
    // vectorizer for linear models / ngram classifiers at corpus scale:
    // v[h(token) mod d] += sign(token), so the feature space is d
    // dimensions REGARDLESS of vocabulary size — no vocabulary build,
    // no dictionary broadcast, one map-side pass + one doc-keyed
    // aggregate. The signed variant (Weinberger et al.) makes collision
    // noise zero-mean. md5-derived hash and sign, so the oracle
    // reproduces every vector exactly; docs with zero tokens get the
    // zero vector. (text_feature_hashing profiles the BUCKET collision
    // structure of the same trick; this one emits the per-doc vectors.)
    "text_hashed_features" -> ((s, dir) => {
      val d = 64
      val feats = tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.ops.Dedup.cleanTokens(col("text"))).as("token"))
        .select(col("doc_id"), thetaHash(col("token")).as("h"))
        .select(col("doc_id"), (col("h") % d).as("dim"),
          when(expr(s"(h div $d) % 2") === 0, 1L).otherwise(-1L)
            .as("sgn"))
        .groupBy("doc_id", "dim").agg(sum(col("sgn")).as("val"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("dim"), col("val"))))
          .as("m"))
        .select(col("doc_id"), expr(
          s"transform(sequence(0, ${d - 1}), " +
            "i -> coalesce(try_element_at(m, cast(i AS bigint)), " +
            "cast(0 AS bigint)))").as("features"))
      tbl(s, dir, "documents").select(col("doc_id"))
        .join(feats, Seq("doc_id"), "left_outer")
        // Serialize the vector as ";"-joined exact longs: the driver's
        // pandas/DuckDB hash compare can't sort an array-typed column,
        // and the string round-trip is exact for integers (same pattern
        // as the embedding serialization above).
        .select(col("doc_id"), concat_ws(";",
          coalesce(col("features"), expr(
            s"transform(sequence(0, ${d - 1}), i -> cast(0 AS bigint))"))
            .cast("array<string>"))
          .as("features"))
    }),

    // NEAREST-DIRECTION AS-OF JOIN WITH TOLERANCE — the
    // merge_asof(direction='nearest', tolerance=15min) shape: each
    // purchase pairs with the CLOSER of the last prior / first
    // following view by the same user, ties to the earlier, both
    // candidates gated by the tolerance. Two edge-value windows over
    // ONE user-partitioned sort — never a range join.
    "rel_asof_nearest" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      val tol = 900L * 1000000L
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("pv",
          max(when(col("event_type") === "view", col("ts_us")))
            .over(w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              -1)))
        .withColumn("nv",
          min(when(col("event_type") === "view", col("ts_us")))
            .over(w.rowsBetween(1,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when((col("ts_us") - col("pv")) <= tol &&
            (col("nv").isNull ||
              (col("ts_us") - col("pv")) <= (col("nv") - col("ts_us")) ||
              (col("nv") - col("ts_us")) > tol), col("pv"))
            .when((col("nv") - col("ts_us")) <= tol, col("nv"))
            .otherwise(lit(null).cast("long")).as("nearest_view_us"))
    }),

    // ORDER-INDEPENDENT TABLE CHECKSUM — the 100 TB table-equality
    // primitive: one scan folds every row into a commutative decimal
    // sum of 60-bit row hashes (md5 over the canonical column
    // concatenation), so two tables compare by exchanging ONE row no
    // matter how they are partitioned or ordered. decimal(38,0) sums
    // exactly (no wraparound ambiguity, no ANSI overflow) up to ~10^19
    // rows; the count rides along to reject padding collisions.
    // Complements rel_merkle_diff (which localizes WHERE tables differ)
    // with the cheap equality gate a pipeline runs first. NULL fields
    // are encoded as an explicit '\N' sentinel (concat_ws would drop
    // them silently, making rows differing only in WHICH column is
    // NULL hash-equal).
    "rel_table_checksum" -> ((s, dir) => {
      def c(x: Column): Column = coalesce(x.cast("string"), lit("\\N"))
      val rowHash = conv(substring(md5(concat_ws("|",
        c(col("l_orderkey")),
        c(col("l_partkey")),
        c(col("l_suppkey")),
        c(col("l_quantity").cast("decimal(18,2)")),
        c(col("l_returnflag"))).cast("binary")), 1, 15), 16, 10)
        .cast("decimal(38,0)")
      tbl(s, dir, "lineitem")
        .select(rowHash.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h")).cast("decimal(38,0)").cast("string")
            .as("checksum"))
    }),

    // THETA-SKETCH IVM — incremental distinct-count maintenance: the
    // materialized base sketch (events before the cutover hour) absorbs
    // a delta batch by MERGE ALONE — no base rescan — and because KMV
    // merge is lossless the refreshed estimate is oracle-checked EQUAL
    // to the from-scratch sketch of base ∪ delta. The distinct-count
    // analogue of rel_ivm_agg/rel_ivm_join's "merge equals recompute"
    // contract, at O(k) refresh cost per segment.
    "rel_theta_ivm" -> ((s, dir) => {
      val k = 128
      val withKey = events(s, dir).select(col("event_type"),
        unix_micros(col("ts")).as("t_us"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      // deterministic cutover: 80% through the fixed event time span
      val cut = withKey.agg((min(col("t_us")) +
        ((max(col("t_us")) - min(col("t_us"))) * 8L) / 10L).as("cut"))
      val staged = withKey.crossJoin(broadcast(cut))
        .select(col("event_type"), col("key"),
          (col("t_us") >= col("cut")).as("is_delta"))
      val parts = staged
        .select(col("event_type"), col("is_delta"),
          thetaHash(col("key")).as("h"))
        .groupBy("event_type", "is_delta")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      // refresh = O(k) merge of the two partial sketch COLUMNS
      // (graft_kmv_merge), never a rescan and never an explode
      val merged = parts
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
          .as("ks"))
      val exact = staged.groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"),
          col("exact"))
    }),

    // SKETCH PERSISTENCE ROUND-TRIP — the store-partials warehouse
    // pattern that is the main production use of mergeable sketches:
    // per-(segment, day) KMV partials are WRITTEN to a parquet table
    // (k longs per cell — the table a 100 TB pipeline materializes
    // nightly), then a SEPARATE read merges-at-read per segment and
    // estimates. KMV merge is lossless (union of k-smallest sets,
    // re-truncated to k), so the round-tripped estimate is
    // oracle-checked EQUAL to the from-scratch sketch of the raw data —
    // the persisted partials lose nothing, and refresh cost is
    // O(days * k) per segment, never a rescan of the corpus.
    "rel_sketch_roundtrip" -> ((s, dir) => {
      val k = 128
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "sketchstore")
      events(s, dir).select(col("event_type"),
          to_date(col("ts")).as("day"),
          thetaHash((col("user_id") * 100000L +
            unix_date(to_date(col("ts")))).cast("long")).as("h"))
        .groupBy("event_type", "day")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
        .write.mode("overwrite").parquet(store)
      // separate read: merge-at-read over the persisted partials only.
      // Eagerly checkpointed so the scratch store can be deleted (the
      // result is O(segments × k) — model-sized)
      try {
        s.read.parquet(store)
          .groupBy("event_type")
          // O(k) column merge: partials never explode back to rows
          .agg(graft.functions.GraftFunctions.kmvMerge(col("ks"), k)
            .as("ks"))
          .select(col("event_type"),
            size(col("ks")).cast("long").as("n_kept"),
            round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
              .otherwise(lit((k - 1).toDouble)
                * lit(1.152921504606846976e18)
                / element_at(col("ks"), k).cast("double")), 4).as("est"))
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    }),

    // KMV ACCURACY/COST CURVE — the rel_qsketch_cap_curve discipline
    // applied to the distinct-count sketch family: one scan computes the
    // global KMV sketch of the user-day key at caps 64 / 256 / 1024 plus
    // the exact distinct count, and the curve reads out (cap, kept rows,
    // estimate, exact, relative error). Everything is deterministic md5
    // integer arithmetic, so the DuckDB oracle re-derives the IDENTICAL
    // estimates — the measured error curve (not just one operating
    // point) is itself oracle-checked; the in-path require pins each
    // rung inside the 5/sqrt(cap) KMV error envelope. This is the
    // memory/accuracy tuning table a 100 TB distinct-count deployment
    // reads: 8 KiB of sketch for ~12% error, 128 KiB for ~3%.
    "rel_kmv_cap_curve" -> ((s, dir) => {
      val caps = Seq(64, 256, 1024)
      val hashed = events(s, dir).select(
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
        .select(col("key"), thetaHash(col("key")).as("h"))
      val aggs = countDistinct(col("key")).as("exact") +:
        caps.map(k => graft.functions.GraftFunctions
          .kmvSketch(col("h"), k).as(s"ks$k"))
      // one row (exact + three sketches); checkpointed so the three
      // per-cap readouts below never rescan events
      val one = hashed.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
      val curve = caps.map { k =>
        one.select(
          lit(k.toLong).as("cap"),
          size(col(s"ks$k")).cast("long").as("n_kept"),
          round(when(size(col(s"ks$k")) < k,
              size(col(s"ks$k")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col(s"ks$k"), k).cast("double")), 4).as("est"),
          col("exact").cast("long").as("exact"))
      }.reduce(_ unionAll _)
        .withColumn("rel_err",
          round(abs(col("est") - col("exact")) / col("exact"), 6))
      curve.collect().foreach { r =>
        require(r.getDouble(4) <= 5.0 / math.sqrt(r.getLong(0).toDouble),
          s"KMV error outside the 5/sqrt(cap) envelope: $r")
      }
      curve
    }),

    // SKETCH DATA CUBE — distinct-count rollups over grouping sets,
    // all merged from the FINEST-grain partials: one KMV partial per
    // (event_type, day-of-week) cell, then the three coarser grouping
    // sets ((type), (dow), ()) are O(cells × k) re-merges of those
    // partials — events are scanned ONCE for the whole cube. Lossless
    // at every level (any hash among a rollup's k smallest is among
    // its own finest cell's k smallest), so every cell of every
    // grouping set is oracle-checked bit-exactly against the
    // from-scratch sketch. This is the additivity story COUNT(DISTINCT)
    // famously lacks in OLAP cubes: distinct counts don't sum across
    // cells, but their sketches union.
    "rel_sketch_cube" -> ((s, dir) => {
      val k = 128
      val kmv = (c: Column) =>
        graft.functions.GraftFunctions.kmvSketch(c, k)
      val fin = events(s, dir)
        .select(col("event_type"),
          (unix_date(to_date(col("ts"))).cast("long") % 7).as("dow"),
          thetaHash(col("user_id").cast("long")).as("h"))
        .groupBy("event_type", "dow")
        .agg(kmv(col("h")).as("ks"))
        // finest grain is types × 7 rows of k longs — model-sized;
        // lazily checkpointed so the three rollups reuse ONE
        // materialization instead of rescanning events each
        .localCheckpoint(false)
      // rollups = O(cells × k) column merges (graft_kmv_merge): the
      // partials never explode back to cells × k rows
      val mrg = (c: Column) =>
        graft.functions.GraftFunctions.kmvMerge(c, k)
      val cell = fin.select(col("event_type").as("event_type_g"),
        col("dow").as("dow_g"), col("ks"))
      val byType = fin
        .groupBy("event_type").agg(mrg(col("ks")).as("ks"))
        .select(col("event_type").as("event_type_g"),
          lit(-1L).as("dow_g"), col("ks"))
      val byDow = fin
        .groupBy("dow").agg(mrg(col("ks")).as("ks"))
        .select(lit("ALL").as("event_type_g"), col("dow").as("dow_g"),
          col("ks"))
      val total = fin
        .agg(mrg(col("ks")).as("ks"))
        .select(lit("ALL").as("event_type_g"), lit(-1L).as("dow_g"),
          col("ks"))
      cell.unionByName(byType).unionByName(byDow).unionByName(total)
        .select(col("event_type_g"), col("dow_g"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble)
              * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"))
    }),

    // QUANTILE SERVING FROM HISTOGRAM PARTIALS — the pre-aggregation
    // twin of the sketch store, for the OTHER mergeable summary: one
    // log2-bucket histogram per (event_type, day) — O(days × types ×
    // 64) partial rows, merged by plain count-sum — serves p50/p95 for
    // ANY day-range slice without rescanning events (here: the
    // trailing 7 observed days). Bucketing matches
    // stream_quantile_sketch (length(bin(round(value*100)))), so the
    // readout is the same cumulative-rank walk and the oracle is
    // exact: both engines compute identical bucket boundaries.
    "rel_quantile_partials" -> ((s, dir) => {
      val parts = events(s, dir).select(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"),
          length(bin(round(col("value") * 100).cast("long"))).as("bucket"))
        .groupBy("event_type", "day", "bucket")
        .agg(count(lit(1)).as("cnt"))
      val span = parts.agg(max(col("day")).as("d1"))
      val sliced = parts.crossJoin(broadcast(span))
        .where(col("day") > col("d1") - 7)
        .groupBy("event_type", "bucket")
        .agg(sum(col("cnt")).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      sliced.select(col("event_type"), col("bucket"), col("cnt"),
          sum(col("cnt")).over(w).as("cum"),
          sum(col("cnt")).over(wAll).as("n"))
        .groupBy(col("event_type"), col("n"))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("bucket")))
            .as("b50"),
          min(when(col("cum") >= expr("(19 * n + 19) div 20"),
            col("bucket"))).as("b95"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          (pow(lit(2.0), col("b50")) / 100.0).as("p50_est"),
          (pow(lit(2.0), col("b95")) / 100.0).as("p95_est"))
    }),

    // RANK-ERROR-BOUNDED QUANTILE SKETCH (the KLL-role summary, md5-
    // deterministic; see functions/QuantileSketchAgg.scala): per
    // event_type, retain the rows whose 60-bit md5(event_id) hash has
    // trailing-zero count >= the minimal level L keeping <= 256 rows —
    // an order-insensitive, engine-reproducible level sample. Quantile
    // reads are retained-value ranks: p50/p95 = value at ceil(q*m) of
    // the sorted retained multiset; rank error ~ sqrt(q(1-q)/m) of n
    // (~4% at m=256), INDEPENDENT of the value distribution — unlike
    // rel_quantile_partials' log2 buckets, whose value error is up to
    // ~2x within a bucket. The oracle rebuilds the exact retained SET
    // from the definition and checks the full sketch CONTENTS
    // bit-for-bit (the ";"-joined [lvl, h, v, ...] string), not just
    // the served quantiles.
    "rel_quantile_sketch" -> ((s, dir) => {
      val cap = 256
      events(s, dir).select(col("event_type"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
        // values sit at even 0-based positions >= 2 of [L, h1, v1, ...]
        .select(col("event_type"), col("qs"),
          expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
            .as("vals"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("lvl"),
          size(col("vals")).cast("long").as("n_kept"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
            .as("p50_cents"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
            .as("p95_cents"),
          concat_ws(";", col("qs").cast("array<string>")).as("contents"))
    }),

    // QSKETCH CAP CURVE — the accuracy/cost knob demonstrated from
    // data: the same sketch at cap 256 / 1024 / 4096 per event_type,
    // each served estimate's TRUE rank error measured against the full
    // value multiset and emitted in basis points as EXACT integers
    // (|2·rank(p50) − n|·10⁴ div 2n and |20·rank(p95) − 19n|·10⁴ div
    // 20n — no fp anywhere, both engines replay the division). A
    // consumer picks the cap from this table: error falls ~1/sqrt(cap)
    // while the shuffled state grows O(cap) per group (the per-cap
    // sketch aggregates stay partial+final; the readout join back to
    // events broadcasts the 3×types-row estimate frame).
    "rel_qsketch_cap_curve" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val perCap = Seq(256, 1024, 4096).map { cap =>
        ev.groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketch(col("h"), col("cents"), cap).as("qs"))
          .select(col("event_type"), lit(cap.toLong).as("cap"),
            element_at(col("qs"), 1).as("lvl"),
            expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
              .as("vals"))
          .select(col("event_type"), col("cap"), col("lvl"),
            size(col("vals")).cast("long").as("n_kept"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
              .as("p50_cents"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
              .as("p95_cents"))
      }.reduce(_ unionAll _)
      ev.join(broadcast(perCap), "event_type")
        .groupBy(col("event_type"), col("cap"), col("lvl"),
          col("n_kept"), col("p50_cents"), col("p95_cents"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") <= col("p50_cents"), 1L).otherwise(0L))
            .as("r50"),
          sum(when(col("cents") <= col("p95_cents"), 1L).otherwise(0L))
            .as("r95"))
        .select(col("event_type"), col("cap"), col("lvl"),
          col("n_kept"),
          col("p50_cents"), col("p95_cents"),
          expr("abs(2 * r50 - n) * 10000 div (2 * n)").as("err50_bp"),
          expr("abs(20 * r95 - 19 * n) * 10000 div (20 * n)")
            .as("err95_bp"))
    }),

    // QUANTILE-SKETCH PARTIALS STORE — the serving twin: one 256-cap
    // sketch per (event_type, day) persisted to parquet (O(days ×
    // types × cap) longs), then ANY day-range slice is served by an
    // O(cap) graft_qsketch_merge of the partials in range (here the
    // trailing 7 observed days) — never a rescan of events. The merge
    // is LOSSLESS (minimal-level identity, see QSketch): the merged
    // sketch is bit-identical to sketching the sliced raw rows from
    // scratch, which is exactly what the oracle computes — contents
    // included. Supersedes rel_quantile_partials' log2-bucket serving
    // with distribution-independent rank error.
    "rel_qsketch_store" -> ((s, dir) => {
      val cap = 256
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "qsketchstore")
      events(s, dir).select(col("event_type"),
          unix_date(to_date(col("ts"))).cast("long").as("day"),
          thetaHash(col("event_id")).as("h"),
          expr("cast(round(value * 1000) AS bigint)").as("cents"))
        .groupBy("event_type", "day")
        .agg(graft.functions.GraftFunctions
          .qsketch(col("h"), col("cents"), cap).as("qs"))
        .write.mode("overwrite").parquet(store)
      try {
        val parts = s.read.parquet(store)
        val span = parts.agg(max(col("day")).as("d1"))
        parts.crossJoin(broadcast(span))
          .where(col("day") > col("d1") - 7)
          .groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketchMerge(col("qs"), cap).as("qs"))
          .select(col("event_type"), col("qs"),
            expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
              .as("vals"))
          .select(col("event_type"),
            element_at(col("qs"), 1).as("lvl"),
            size(col("vals")).cast("long").as("n_kept"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
              .as("p50_cents"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
              .as("p95_cents"),
            concat_ws(";", col("qs").cast("array<string>")).as("contents"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally graft.streaming.StreamGate.deleteRecursively(store)
    }),

    // Containment estimate (click ⊆ purchase direction): the ASYMMETRIC
    // similarity |A∩B|/|A| — below θ both retained sets are complete,
    // so the ratio of in-sample counts estimates it directly. The
    // segment-level twin of dedup_containment_pairs' doc-in-doc shape.
    "rel_theta_containment" -> ((s, dir) => {
      val k = 128
      val p60 = 1152921504606846976L
      val base = events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
            .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.where(col("event_type") === "click")
        .select(col("ks").as("ka")).limit(1)
      val b = sk.where(col("event_type") === "purchase")
        .select(col("ks").as("kb")).limit(1)
      a.crossJoin(broadcast(b))
        .withColumn("theta", least(
          when(size(col("ka")) < k, lit(p60))
            .otherwise(element_at(col("ka"), k)),
          when(size(col("kb")) < k, lit(p60))
            .otherwise(element_at(col("kb"), k))))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_a",
          size(expr("filter(ka, x -> x < theta)")).cast("long"))
        .select(col("s_inter"), col("s_a"),
          round(col("s_inter").cast("double") / col("s_a").cast("double"),
            6).as("containment"))
    }),

    // Pairwise segment-similarity MATRIX from sketches: theta-Jaccard
    // for every event-type pair — below the shared θ both retained sets
    // are complete distinct samples, so J ≈ |kA∩kB < θ| / |kA∪kB < θ|.
    // The 100 TB shape: 5 sketches built in one pass, all 10 pairwise
    // similarities from O(k) array algebra on the executors — an exact
    // pairwise-Jaccard matrix would cost one corpus-wide distinct
    // shuffle PER PAIR.
    "rel_theta_jaccard_matrix" -> ((s, dir) => {
      val k = 128
      val p60 = 1152921504606846976L
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val sk = base.select(col("event_type"), thetaHash(col("key")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
          .as("ks"))
      val a = sk.select(col("event_type").as("ta"), col("ks").as("ka"))
      val b = sk.select(col("event_type").as("tb"), col("ks").as("kb"))
      a.crossJoin(broadcast(b)).where(col("ta") < col("tb"))
        .withColumn("theta", least(
          when(size(col("ka")) < k, lit(p60))
            .otherwise(element_at(col("ka"), k)),
          when(size(col("kb")) < k, lit(p60))
            .otherwise(element_at(col("kb"), k))))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_union",
          size(expr("filter(array_union(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(col("ta"), col("tb"), col("s_inter"), col("s_union"),
          round(col("s_inter").cast("double") /
            col("s_union").cast("double"), 6).as("jacc_est"))
    }),

    // STREAMING AS-OF ENRICHMENT — the temporal-join twin of
    // rel_asof_last_view through the real micro-batch engine: each
    // purchase carries the most recent strictly-prior view instant by
    // the same user. State is ONE long per user (the latest view seen)
    // — no buffered join side, no watermark-horizon retention: the
    // canonical as-of shape where the lookup side only needs its latest
    // value, bounded at key cardinality on an unbounded stream. Same
    // oracle as the batch window, so batch/stream parity is
    // hash-checked, not argued.
    "stream_asof_enrich" -> ((s, dir) => {
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
    }),

    // GROUPED / MULTI-LOOKUP STREAMING AS-OF — asOfLastByType: each
    // purchase carries the last strictly-prior instant of EVERY lookup
    // type (view AND click) by the same user, in ONE pass with
    // |types| longs of state per user (the composite-key as-of the
    // r12 verdict sketches). Long-format output (one row per purchase
    // x lookup type), so the lookup set widens without schema change;
    // oracle = two conditional edge-value carries over the same batch
    // window, unioned.
    "stream_asof_multi" -> ((s, dir) => {
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
    }),

    // PRODUCTION-PARITY STREAMING AS-OF — asOfLastViewBounded: the
    // out-of-order-stream twin with a watermark-keyed lateness buffer
    // and an event-time state TTL (see EventStream.asOfLastViewBounded).
    // Emission is watermark-gated, so the replay's enriched output is
    // exactly the purchases at or before `max event time − lateness`
    // (10 min); the oracle applies the same horizon cut — the lateness
    // tail is precisely what an unbounded stream hasn't finalized yet.
    // Multi-batch out-of-order exactness is pinned in StreamAsOfSpec
    // with a controlled two-batch file replay.
    "stream_asof_bounded" -> ((s, dir) => {
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
    }),

    // STREAMING THETA SKETCH — the unbounded-stream twin of
    // rel_theta_sketch_distinct: per-event_type k-smallest-hash state
    // (ONE sorted <= 128-long array per key FOREVER) through the real
    // micro-batch engine on an unordered multi-batch CSV replay.
    // Min-retention is commutative and idempotent, so the streamed
    // sketch equals the batch sketch EXACTLY and the same oracle
    // value-checks the estimate. Readers keep the max-version snapshot
    // per key; the exact count rides along batch-side as accuracy
    // evidence, same as the batch query.
    "stream_theta_distinct" -> ((s, dir) => {
      import s.implicits._
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val ev = base.select(col("event_type"), thetaHash(col("key")).as("h"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "thetadist")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType))),
          "gate_thetadist", "update")(df =>
          graft.streaming.EventStream.thetaSketchStream(
            df.toDF("_1", "_2").as[(String, Long)]).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
      val sketches = sink.groupBy(col("key"))
        .agg(max(struct(col("ver"), col("ks"))).as("m"))
        .select(col("key").as("event_type"), col("m.ks").as("ks"))
      val exact = base.groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact"))
      sketches.join(exact, "event_type")
        .select(col("event_type"),
          size(col("ks")).cast("long").as("n_kept"),
          round(when(size(col("ks")) < k, size(col("ks")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ks"), k).cast("double")), 4).as("est"),
          col("exact"))
    }),

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
    "stream_qsketch" -> ((s, dir) => {
      import s.implicits._
      val cap = 256
      val base = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "qstream")
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_qstream", "update")(df =>
          graft.streaming.EventStream.qsketchStream(
            df.toDF("_1", "_2", "_3").as[(String, Long, Long)], cap).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
      sink.groupBy(col("key"))
        .agg(max(struct(col("ver"), col("qs"))).as("m"))
        .select(col("key").as("event_type"), col("m.qs").as("qs"))
        .select(col("event_type"), col("qs"),
          expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
            .as("vals"))
        .select(col("event_type"),
          element_at(col("qs"), 1).as("lvl"),
          size(col("vals")).cast("long").as("n_kept"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
            .as("p50_cents"),
          expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
            .as("p95_cents"),
          concat_ws(";", col("qs").cast("array<string>")).as("contents"))
    }),

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
    "stream_sketch_handoff" -> ((s, dir) => {
      val k = 128
      val base = events(s, dir).select(col("event_type"),
        (col("user_id") * 100000L + unix_date(to_date(col("ts"))))
          .cast("long").as("key"))
      val ev = base.select(col("event_type"), thetaHash(col("key")).as("h"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "skhandoff")
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "skhandoffstore")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToParquetStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType))),
          "gate_skhandoff", store)(df =>
          df.groupBy("event_type")
            .agg(graft.functions.GraftFunctions.kmvSketch(col("h"), k)
              .as("ks")))
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
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

    // NON-IDEMPOTENT HANDOFF CONSUMER, PROVEN — the at-least-once
    // caveat on replayCsvToParquetStore made concrete: COUNT/SUM
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
    "stream_count_handoff" -> ((s, dir) => {
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "cnthandoff")
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "cnthandoffstore")
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToParquetStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_cnthandoff", store)(df =>
          df.groupBy("event_type")
            .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")))
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
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

    // EXACTLY-ONCE HANDOFF — the idempotent alternative to the append
    // store above: each micro-batch's partial lands via DYNAMIC
    // PARTITION OVERWRITE into its own batch_id= partition
    // (StreamGate.replayCsvToPartitionedStore), so a replayed batch
    // REPLACES its previous partition instead of duplicating it. The
    // query re-presents batch 0 through the identical write path (the
    // same recovery scenario the append-store query injects) and the
    // store is byte-identical after — which is why the read path here
    // is a PLAIN scan-and-sum with no dedup filter at all. Same exact
    // totals, same oracle as the at-least-once twin: the two queries
    // differ only in where the idempotence lives (read-side dedup vs
    // write-side replace).
    "stream_count_handoff_eo" -> ((s, dir) => {
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "cnteo")
      val store = graft.streaming.StreamGate.scratchDir("stage", "cnteostore")
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToPartitionedStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_cnteo", store)(df =>
          df.groupBy("event_type")
            .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")))
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
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

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
    "stream_txn_sink" -> ((s, dir) => {
      import graft.sources.TxnLog
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "txnsink")
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "txnsinkstore")
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToTxnStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_txnsink", store)(df =>
          df.groupBy("event_type")
            .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")))
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
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

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
    "stream_txn_cdc_pipeline" -> ((s, dir) => {
      import graft.sources.TxnLog
      val base = events(s, dir).select(col("event_type"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "txncdc")
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "txncdcstore")
      // staged fanout (3 files / 2 under the bench-light knob, like
      // every other multi-batch CSV replay): each staged file is one
      // micro-batch = one log version for the tailing consumer below;
      // the head >= 1 require keeps the multi-batch shape load-bearing
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToTxnStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_txncdc", store)(df =>
          df.groupBy("event_type")
            .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")))
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
          .groupBy(state.columns.map(col): _*)
          .agg(sum(col("_side")).as("_d"))
          .where(col("_d") =!= 0L)
          .isEmpty,
          "incremental CDC state diverged from the snapshot recompute")
        state
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

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
    "stream_qsketch_handoff" -> ((s, dir) => {
      val cap = 256
      val base = events(s, dir).select(col("event_type"),
        thetaHash(col("event_id")).as("h"),
        expr("cast(round(value * 1000) AS bigint)").as("cents"))
      val src = graft.streaming.StreamGate.scratchDir("stage", "qshandoff")
      val store = graft.streaming.StreamGate
        .scratchDir("stage", "qshandoffstore")
      base.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      try {
        graft.streaming.StreamGate.replayCsvToPartitionedStore(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cents",
              org.apache.spark.sql.types.LongType))),
          "gate_qshandoff", store)(df =>
          df.groupBy("event_type")
            .agg(graft.functions.GraftFunctions
              .qsketch(col("h"), col("cents"), cap).as("qs")))
        // replay batch 0 through the identical exactly-once write path
        // — the store must be unchanged or the multiset merge breaks
        graft.streaming.StreamGate.writeBatchPartition(
          s.read.parquet(store).where(col("batch_id") === 0)
            .drop("batch_id"), 0L, store)
        s.read.parquet(store)
          .groupBy("event_type")
          .agg(graft.functions.GraftFunctions
            .qsketchMerge(col("qs"), cap).as("qs"))
          .select(col("event_type"), col("qs"),
            expr("array_sort(filter(qs, (x, i) -> i >= 2 AND i % 2 = 0))")
              .as("vals"))
          .select(col("event_type"),
            element_at(col("qs"), 1).as("lvl"),
            size(col("vals")).cast("long").as("n_kept"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.5) AS int))")
              .as("p50_cents"),
            expr("element_at(vals, cast(ceil(size(vals) * 0.95) AS int))")
              .as("p95_cents"),
            concat_ws(";", col("qs").cast("array<string>")).as("contents"))
          // eager: the scratch store is deleted on exit
          .localCheckpoint(true)
      } finally {
        graft.streaming.StreamGate.deleteRecursively(src)
        graft.streaming.StreamGate.deleteRecursively(store)
      }
    }),

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
    "stream_theta_setops" -> ((s, dir) => {
      import s.implicits._
      val k = 128
      val p60 = 1152921504606846976L
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
      val src = graft.streaming.StreamGate.scratchDir("stage", "thetaso")
      ev.repartition(graft.streaming.StreamGate.stageFanout)
        .write.mode("overwrite").csv(src)
      val sink =
        try graft.streaming.StreamGate.replayCsvMultiBatch(s, src,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("h",
              org.apache.spark.sql.types.LongType))),
          "gate_thetaso", "update")(df =>
          graft.streaming.EventStream.thetaSketchStream(
            df.toDF("_1", "_2").as[(String, Long)]).toDF())
        finally graft.streaming.StreamGate.deleteRecursively(src)
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
      def thetaOf(c: Column): Column =
        when(size(c) < k, lit(p60)).otherwise(element_at(c, k))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(exacts))
        // union: global k-smallest of the merged arrays (each global
        // k-smallest hash is inside its own segment's k-smallest, so
        // the merge is lossless — same argument as the daily merge)
        .withColumn("ku", expr(s"slice(array_sort(array_union(ka, kb)), " +
          s"1, $k)"))
        .withColumn("theta", least(thetaOf(col("ka")), thetaOf(col("kb"))))
        .withColumn("s_inter",
          size(expr("filter(array_intersect(ka, kb), x -> x < theta)"))
            .cast("long"))
        .withColumn("s_diff",
          size(expr("filter(array_except(ka, kb), x -> x < theta)"))
            .cast("long"))
        .select(
          size(col("ku")).cast("long").as("n_union"),
          round(when(size(col("ku")) < k, size(col("ku")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / element_at(col("ku"), k).cast("double")), 4)
            .as("est_union"),
          col("s_inter"),
          round(col("s_inter").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est_inter"),
          col("s_diff"),
          round(col("s_diff").cast("double")
            * lit(1.152921504606846976e18)
            / col("theta").cast("double"), 4).as("est_diff"),
          col("exact_union"), col("exact_inter"), col("exact_diff"))
    }),

    // ITEM-ITEM CO-OCCURRENCE SIMILARITY — the collaborative-filtering
    // primitive: per-item top-5 neighbors by co-order cosine
    // cnt/√(supp_a·supp_b). Rides rel_basket_pairs' scale shape (ONE
    // orderkey shuffle builds sorted baskets, pairs generate MAP-SIDE
    // with per-order-bounded fan-out, supports shuffle-join back on
    // the part key);
    // the per-item cut is a partitioned WindowGroupLimit over the
    // ROUNDED cosine with a neighbor-id tiebreak, so the neighbor
    // lists are deterministic through ties at any scale.
    "rel_item_cooccur_sim" -> ((s, dir) => {
      val baskets = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint(false) // feeds pair generation + supports
      val pairs = baskets
        .select(explode(
          graft.functions.GraftFunctions.sortedPairs(col("parts")))
          .as("p"))
        .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
      val supp = baskets.select(explode(col("parts")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("supp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("item").orderBy(col("cosine").desc, col("nb").asc)
      // supports are one row per distinct part — a VOCABULARY-sized
      // frame that grows with SF, so no broadcast hint: the pair list
      // shuffle-joins on the part key (AQE broadcasts when small).
      // Both supports attach to the HALF pair list before it is
      // symmetrized — the two joins probe half the rows they did when
      // the union came first; the symmetric copy then just swaps the
      // attached columns.
      val both = pairs
        .join(supp.select(col("pk").as("pa"), col("supp").as("sa")), "pa")
        .join(supp.select(col("pk").as("pb"), col("supp").as("sb")), "pb")
      val sym = both
        .select(col("pa").as("item"), col("pb").as("nb"), col("cnt"),
          col("sa").as("si"), col("sb").as("sn"))
        .unionAll(both
          .select(col("pb").as("item"), col("pa").as("nb"), col("cnt"),
            col("sb").as("si"), col("sa").as("sn")))
      sym
        .select(col("item"), col("nb"), col("cnt"),
          round(col("cnt").cast("double") /
            sqrt((col("si") * col("sn")).cast("double")), 6).as("cosine"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
    }),

    // TRAIN/TEST SPLIT LEAKAGE SCAN — pretraining hygiene's last gate:
    // near-duplicate pairs (LSH-banded candidates, exact Jaccard ≥ 0.5
    // verify) that STRADDLE the hash-assigned train/val/test split —
    // each one is an eval answer leaked into training. Composes the
    // capped LSH candidate chain with text_split_assign's md5 bucket
    // assignment; the split labels shuffle-join onto the (sparse) pair
    // list on doc_id — NO broadcast hint: `splits` is one row per
    // document (corpus-sized), so a forced broadcast would OOM the
    // driver at real corpus scale; the equi-join shuffles the small
    // pair list instead (AQE may still elect a broadcast when the
    // frame is measured tiny).
    "text_split_leakage" -> ((s, dir) => {
      val splits = tbl(s, dir, "documents").select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") % 100).as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test").as("split"))
      jaccardPairsWithSetsDf(s, dir)
        .select(col("id1"), col("id2"),
          round(col("inter").cast("double") / col("uni").cast("double"), 6)
            .as("jaccard"))
        .where(col("jaccard") >= 0.5)
        .join(splits.select(col("doc_id").as("id1"),
          col("split").as("split1")), "id1")
        .join(splits.select(col("doc_id").as("id2"),
          col("split").as("split2")), "id2")
        .where(col("split1") =!= col("split2"))
        .select(col("id1"), col("id2"), col("jaccard"),
          col("split1"), col("split2"))
    }),

    // PRECISION-RECALL CURVE — the threshold sweep that AUC integrates
    // away: predict positive at score ≥ each decile threshold, report
    // precision/recall per threshold. The stream shrinks to 10 bins in
    // ONE hash aggregate; suffix sums over the bins (predicted-positive
    // and true-positive counts above each threshold) run on a
    // constant-size frame, so the sweep is free at any scale and every
    // ratio is one exact-integer division.
    "rel_pr_curve" -> ((s, dir) => {
      val bins = events(s, dir).select(
          (round(col("value") * 100).cast("long") % 100L).as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy(expr("cents div 10").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("sp"))
        .localCheckpoint(false) // 10 rows; feeds thresholds + totals
      val byTh = bins.select(col("bin").as("t"))
        .join(broadcast(bins), col("bin") >= col("t"))
        .groupBy("t").agg(sum(col("n")).as("pp"), sum(col("sp")).as("tp"))
      byTh.crossJoin(broadcast(bins.agg(sum(col("sp")).as("p"))))
        .select(col("t"), col("pp"), col("tp"),
          round(col("tp").cast("double") / col("pp").cast("double"), 6)
            .as("precision"),
          round(col("tp").cast("double") / col("p").cast("double"), 6)
            .as("recall"))
    }),

    // kNN CLASSIFIER ACCURACY — leave-one-out evaluation of the
    // embedding space itself: a FIXED 50-query panel (bounded at any
    // scale — the candidate join is O(50·N), never N²) takes its 10
    // nearest neighbors by rounded cosine and votes. Per-query work is
    // one broadcast of the panel, a codegen'd dot product, and two
    // partitioned windows (top-k cut, then majority vote with the
    // deterministic (count desc, label asc) tiebreak). Accuracy folds
    // from exact counts.
    "emb_knn_accuracy" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50).select(
        col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
      val topW = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      val voteW = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cnt").desc, col("label").asc)
      val top = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6)
            .as("cos"))
        .withColumn("rk", row_number().over(topW))
        .where(col("rk") <= 10)
      top.groupBy("qid", "qlabel", "label")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("vr", row_number().over(voteW))
        .where(col("vr") === 1)
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_queries"), col("n_correct"),
          round(col("n_correct").cast("double") /
            col("n_queries").cast("double"), 6).as("accuracy"))
    }),

    // HOLT-WINTERS-STYLE FORECAST — the trend family's capstone: the
    // next 24 hours as (level + k·trend)·seasonal_idx, composing the
    // double-EWMA chain (level/trend at the last observed hour, via two
    // stacked GlobalRecur scans) with the hour-of-day seasonal indices.
    // Every input is O(hours)/O(24)-sized after one hash aggregate
    // each; the hourly frame repartitions to ONE partition before the
    // scans (see rel_double_ewma_trend — the affine splice is only
    // ulp-exact on one partition, and the frame is time-span-bounded);
    // the last-hour cut is TakeOrderedAndProject (never a global
    // sort), and the 24-step horizon joins against the broadcast
    // seasonal table.
    "rel_holt_winters_forecast" -> ((s, dir) => {
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).cast("double").as("x"))
        .select(col("h"), col("x"),
          lit(0.75).as("m"), (lit(0.25) * col("x")).as("c"))
        .repartition(1)
      val p1 = graft.plans.Recurrence.scan(hr, "m", "c", 0.0, ("h", false))
        .select(col("h"), col("y").as("s1"), lit(0.75).as("m2"))
      val p2 = graft.plans.Recurrence
        .scan(p1.withColumn("c2", lit(0.25) * col("s1")),
          "m2", "c2", 0.0, ("h", false))
      val last = p2.orderBy(col("h").desc).limit(1)
        .select(col("h").as("h0"),
          (lit(2.0) * col("s1") - col("y")).as("level"),
          ((col("s1") - col("y")) / lit(3.0)).as("trend"))
      val daily = events(s, dir).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .groupBy("hod", "day").agg(count(lit(1)).cast("double").as("x"))
      val sm = daily.groupBy("hod")
        .agg(array_sort(collect_list(struct(col("day"), col("x"))))
          .as("seq"))
        .select(col("hod"),
          aggregate(col("seq"), lit(0.0),
            (acc, el) => lit(0.75) * acc + lit(0.25) * el.getField("x"))
            .as("ew"))
        .localCheckpoint(false) // 24 rows; feeds the mean and the join
      val si = sm.crossJoin(broadcast(sm.agg(avg(col("ew")).as("mu"))))
        .select(col("hod"), (col("ew") / col("mu")).as("sidx"))
      last.crossJoin(broadcast(
          s.range(1, 25).select(col("id").as("k"))))
        .select(col("k"), ((col("h0") + col("k")) % 24).as("hod"),
          col("level"), col("trend"))
        .join(broadcast(si), "hod")
        .select(col("k"), col("hod"),
          round((col("level") + col("k") * col("trend")) * col("sidx"), 6)
            .as("forecast"))
    }),

    // BROWN'S DOUBLE EXPONENTIAL SMOOTHING — level + trend of the
    // hourly event-count series by chaining the GlobalRecur affine
    // operator TWICE: s1 smooths the series, s2 smooths s1, and
    // (level, trend) = (2s1−s2, α/(1−α)·(s1−s2)) — the trend-aware
    // upgrade of rel_ewma_per_user's flat EWMA, and the operator-
    // composition showcase: an unbounded recurrence feeding a second
    // unbounded recurrence, both running as two-pass scans. The series
    // is O(hours) after the hash aggregate (bounded by the time span,
    // not the corpus), so it REPARTITIONS TO ONE partition before the
    // scans: GlobalRecur's partition splice composes affine transforms
    // (cm·y+cb), whose float rounding differs from a sequential fold
    // in the last ulps — on one partition the splice is the identity
    // and the chain IS the same literal IEEE sequence (0.75·s + 0.25·x)
    // DuckDB's recursive CTE folds, hence bit-exact cross-engine. (The
    // data-sized aggregate stays fully parallel; only the tiny hourly
    // frame is single-partition. On an unbounded-cardinality series
    // the distributed splice with a tolerance compare is the shape.)
    "rel_double_ewma_trend" -> ((s, dir) => {
      val hr = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("h").agg(count(lit(1)).cast("double").as("x"))
        .select(col("h"), col("x"),
          lit(0.75).as("m"), (lit(0.25) * col("x")).as("c"))
        .repartition(1)
      val p1 = graft.plans.Recurrence.scan(hr, "m", "c", 0.0, ("h", false))
        .select(col("h"), col("y").as("s1"),
          lit(0.75).as("m2"))
      val p2 = graft.plans.Recurrence
        .scan(p1.withColumn("c2", lit(0.25) * col("s1")),
          "m2", "c2", 0.0, ("h", false))
      p2.select(col("h"),
        round(col("s1"), 6).as("s1"), round(col("y"), 6).as("s2"),
        round(lit(2.0) * col("s1") - col("y"), 6).as("level"),
        round((col("s1") - col("y")) / lit(3.0), 6).as("trend"))
    }),

    // PANEL-SOURCE BOUNDED BETWEENNESS (Brandes, "A Faster Algorithm for
    // Betweenness Centrality", 2001; the fixed-pivot approximation of
    // Brandes & Pich 2007) — the centrality the graph family lacked
    // beyond PageRank. Exact Brandes is one BFS + one reverse
    // accumulation PER NODE (O(V·E) — a non-starter at any scale); the
    // production approximation runs it from a small DECLARED source
    // panel and reports the panel-accumulated dependency δ(v). Here: 4
    // supplier pivots over the customer–supplier bipartite graph, depth
    // bounded at 4 hops (both sides truncate identically, so the metric
    // is the deterministic "4-bounded panel betweenness").
    //
    // Shape: ONE multi-source BFS keyed (src, node) — the K pivots ride
    // the same 4 frontier⨝edges rounds, not K separate traversals —
    // with exact BIGINT shortest-path counts σ (level-synchronous
    // predecessor sums), then 3 reverse-accumulation rounds computing
    // δ(v) = Σ_w (σv/σw)(1+δw) over the DAG edges into the next level.
    // Per round: one hash join + one key agg; per-level δ rounds to 9
    // (both engines see identical inputs at each level), and the final
    // cross-source sum goes through DECIMAL(18,6) so its value is
    // order-independent. Edges materialize once (localCheckpoint),
    // partitioned on the join key; the driver sees no data. Cost is
    // O(panel-reached edges × 7 rounds) — panel size, not node count,
    // is the knob, exactly how betweenness is run in production.
    "rel_betweenness_panel" -> ((s, dir) => {
      // LONG-encoded node ids through the whole traversal, stringified
      // once at the output (rel_shortest_path note): 7 rounds of joins,
      // aggregates and anti-joins hash 8-byte longs instead of strings
      val half = tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val edges = half
        .unionAll(half.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("a"))
        .localCheckpoint(false)
      val maxHop = 4
      val panel = Seq(1L, 2L, 3L, 4L).map(2 * _ + 1) // s1..s4
      val lv0 = s.createDataFrame(panel.map(Tuple1(_))).toDF("src")
        .select(col("src"), col("src").as("node"), lit(1L).as("sigma"))
        .repartition(col("node")).localCheckpoint(false)
      var levels = Vector(lv0)
      var visited = lv0.select("src", "node").localCheckpoint(false)
      for (hop <- 1 to maxHop) {
        val next = levels.last
          .join(edges, col("node") === col("a"))
          .select(col("src"), col("b").as("nxt"), col("sigma"))
          .groupBy(col("src"), col("nxt"))
          .agg(sum(col("sigma")).as("sigma"))
          .select(col("src"), col("nxt").as("node"), col("sigma"))
          .join(visited, Seq("src", "node"), "left_anti")
          .localCheckpoint(false)
        levels :+= next
        // visited materializes EVERY hop here, unlike rel_shortest_path:
        // the (src, node)-keyed set is panel-size × larger, and the
        // every-2nd-hop cadence A/B'd 10% SLOWER (6.08 → 6.68 s solo —
        // the odd-hop anti-join re-plans and re-broadcasts the 2-frame
        // union of the bigger set, costing more than the skipped
        // materialization saved)
        visited = visited.unionAll(next.select("src", "node"))
          .localCheckpoint(false)
      }
      // reverse accumulation: δ at the depth bound is 0 by definition
      var delta = levels(maxHop).withColumn("delta", lit(0.0))
      val interior = (maxHop - 1 to 1 by -1).map { l =>
        val w = delta.select(col("src").as("wsrc"),
          col("node").as("wnode"), col("sigma").as("wsigma"),
          col("delta").as("wdelta"))
        val contrib = levels(l)
          .join(edges, col("node") === col("a"))
          .join(w, col("src") === col("wsrc") && col("b") === col("wnode"))
          .select(col("src"), col("node"),
            ((col("sigma").cast("double") / col("wsigma").cast("double")) *
              (lit(1.0) + col("wdelta"))).as("term"))
          .groupBy(col("src"), col("node"))
          .agg(sum(col("term")).as("contrib"))
        delta = levels(l)
          .join(contrib, Seq("src", "node"), "left_outer")
          .select(col("src"), col("node"), col("sigma"),
            round(coalesce(col("contrib"), lit(0.0)), 9).as("delta"))
          .localCheckpoint(false)
        delta
      }
      interior.reduce(_ unionAll _)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_sources"),
          sum(round(col("delta"), 6).cast("decimal(18,6)"))
            .cast("double").as("betweenness"))
        .select(
          when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
            .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
            .as("node"),
          col("n_sources"), col("betweenness"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    "s1_scan_project_filter" ->
      "SELECT doc_id, n_chars, source FROM documents WHERE n_chars > 200",

    // the bucketed layout is an optimization detail — the answer is the
    // plain key join over the raw parquet
    "src_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    // compaction must be a content no-op — the answer is the raw columns
    "src_compaction" ->
      "SELECT doc_id, source, n_chars FROM documents",

    // z-order pruning only skips whole files; the answer must equal the
    // plain full-table date filter
    "src_zorder_prune" ->
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
        |GROUP BY 1""".stripMargin,

    "src_partitioned_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |       cast(sum(n_chars) AS bigint) AS chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    // the staged split is BY source, so the merged-read semantics
    // re-express directly over the input table: legacy rows have no lang
    "src_schema_evolution" ->
      """SELECT CASE WHEN source = 'src0' THEN '<legacy>' ELSE lang END
        |         AS lang,
        |       count(*)::BIGINT AS n_docs,
        |       cast(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin,

    // snapshot v2 = the full table; snapshot v4 = the table minus the
    // rows the copy-on-write delete dropped (bucket 2, status 'F') —
    // the compaction commit between them must be content-invisible
    "src_time_travel" ->
      """WITH s2 AS (
        |  SELECT 2::BIGINT AS version, o_orderstatus,
        |         count(*)::BIGINT AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS tot
        |  FROM orders GROUP BY 2
        |), s4 AS (
        |  SELECT 4::BIGINT AS version, o_orderstatus,
        |         count(*)::BIGINT AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS tot
        |  FROM orders
        |  WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |  GROUP BY 2
        |)
        |SELECT * FROM s2 UNION ALL SELECT * FROM s4""".stripMargin,

    // the changed-objects-only read must recover exactly the deleted rows
    "src_time_travel_diff" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 2 AND o_orderstatus = 'F'""".stripMargin,

    // MERGE semantics re-expressed declaratively: update-in-place on the
    // hit keys plus the appended inserts; the rewrite targeting is an
    // optimization the aggregate cannot see
    "src_txn_merge" ->
      """WITH mx AS (
        |  SELECT max(o_orderkey) AS m,
        |         ((max(o_orderkey) + 4) // 4) AS w
        |  FROM orders
        |), merged AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 97 = 0
        |                   AND o_orderkey >= w AND o_orderkey < 2 * w
        |              THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 97 = 0
        |                   AND o_orderkey >= w AND o_orderkey < 2 * w
        |              THEN o_totalprice * 2
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders, mx
        |  UNION ALL
        |  SELECT o_orderkey + m, 'N', 1.0
        |  FROM orders, mx
        |  WHERE o_orderkey % 97 = 0
        |    AND o_orderkey >= w AND o_orderkey < 2 * w
        |)
        |SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM merged GROUP BY 1""".stripMargin,

    // the rollback undid the copy-on-write delete: the restored head is
    // the FULL table
    "src_txn_restore" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // the diverged clone dropped its bucket-3 slice; the source (not
    // read here) would still show it
    "src_txn_clone" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderkey % 4 <> 3
        |GROUP BY 1""".stripMargin,

    // orphan GC must be content-invisible: the head snapshot equals the
    // post-delete table exactly as in src_txn_vacuum
    "src_txn_gc" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin,

    // the row-level change inventory of the merge: every hit key is
    // modified (status F/O/P -> 'U', price doubled), every ceiling-
    // shifted key inserted; nothing is deleted by a CoW merge
    "src_txn_cdf" ->
      """WITH mx AS (
        |  SELECT max(o_orderkey) AS m,
        |         ((max(o_orderkey) + 4) // 4) AS w
        |  FROM orders
        |), upd AS (
        |  SELECT o_orderkey FROM orders, mx
        |  WHERE o_orderkey % 97 = 0
        |    AND o_orderkey >= w AND o_orderkey < 2 * w
        |)
        |SELECT o_orderkey AS key, 'modified' AS change FROM upd
        |UNION ALL
        |SELECT o_orderkey + m, 'inserted' FROM upd, mx""".stripMargin,

    // OCC makes the multi-writer outcome schedule-independent: the head
    // snapshot is the full table regardless of which writer won the race
    "src_txn_concurrent" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // checkpoint GC is content-invisible: the head snapshot equals the
    // post-delete table exactly as in src_txn_vacuum
    "src_txn_checkpoint_gc" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin,

    // the evolved snapshot is the union of both generations under the
    // v2 schema: gen-1 rows (keys % 3 = 0) carry NULL for the appended
    // price column, gen-2 rows carry their real price
    "src_txn_schema_evolution" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END)::BIGINT
        |         AS n_gen1,
        |       CAST(sum(CASE WHEN o_orderkey % 3 <> 0
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2))
        |                END) AS DOUBLE) AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // the merge-on-read delete (two DV'd deletes + the DV-fold
    // compaction) serves the table minus the even-bucket keys named by
    // either vector — and nothing else
    "src_txn_dv_delete" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 2 = 0
        |           AND (o_orderkey % 97 = 0 OR o_orderkey % 101 = 0))
        |GROUP BY 1""".stripMargin,

    // the DV change feed serves exactly the deleted rows, read from the
    // untouched object at the vector's position delta
    "src_txn_dv_cdf" ->
      """SELECT o_orderkey AS key, 'deleted' AS change
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 = 0""".stripMargin,

    // rename + drop are metadata-only: every row of both generations
    // survives under the final two-column logical schema
    "src_txn_column_rename" ->
      """SELECT o_orderkey % 4 AS bucket, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // log-stats skipping only drops whole files; the answer must equal
    // the plain full-table two-dimensional filter
    "src_txn_skipping" ->
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
        |  AND o_totalprice BETWEEN 100000 AND 250000
        |GROUP BY 1""".stripMargin,

    // storage reclaim below the retention floor must not change the head
    "src_txn_vacuum" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin,

    "src_csv_roundtrip" ->
      s"""$linesCte
         |SELECT doc_id, lang, line FROM lines""".stripMargin,

    "src_json_roundtrip" ->
      """SELECT event_id, user_id, event_type, value,
        |       epoch_us(ts) AS ts_us
        |FROM events""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders""".stripMargin,

    "src_avro_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier""".stripMargin,

    "p1_java_split_arity" ->
      s"""$linesCte
         |SELECT doc_id, len(${javaSplitSql("line")}) AS n_fields
         |FROM lines""".stripMargin,

    "p2_last_field" ->
      s"""$linesCte
         |SELECT doc_id, trim(line_split[-1]) AS ticker
         |FROM (SELECT doc_id, ${javaSplitSql("line")} AS line_split
         |      FROM lines)""".stripMargin,

    "p3_headline_rejoin" ->
      s"""$linesCte
         |SELECT doc_id,
         |       array_to_string(l[2:len(l)-2], ',') AS headline
         |FROM (SELECT doc_id, ${javaSplitSql("line")} AS l FROM lines)""".stripMargin,

    "f1_arity_filter" ->
      s"""$linesCte
         |SELECT lang, count(*) AS cnt FROM lines
         |WHERE len(${javaSplitSql("line")}) > 3
         |GROUP BY lang""".stripMargin,

    "t1_t2_scrub" ->
      """SELECT doc_id,
        |       regexp_replace(lower(text), '[^a-z ]', ' ', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "t3_token_counts" ->
      s"""WITH ${tokensCte("text")}
         |SELECT token, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 GROUP BY token""".stripMargin,

    "f2_stopword_filter" ->
      s"""WITH ${tokensCte("text")}
         |SELECT token, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 AND token NOT IN $stopListSql
         |GROUP BY token""".stripMargin,

    "a1_count_by_key" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",

    "o1_o2_rank_events" ->
      """SELECT row_number() OVER (ORDER BY cnt DESC, event_type) AS rank,
        |       event_type, cnt
        |FROM (SELECT event_type, count(*) AS cnt FROM events
        |      GROUP BY event_type)""".stripMargin,

    "stock_count_pipeline" ->
      s"""$linesCte,
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker)
         |SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |       ticker, cnt
         |FROM counts""".stripMargin,

    "word_count_pipeline" ->
      s"""$linesCte,
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT rank, word, cnt FROM ranked WHERE rank <= 100""".stripMargin,

    "stock_count_formatted" ->
      s"""$linesCte,
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |         ticker, cnt
         |  FROM counts
         |)
         |SELECT printf('%d: %s, %d', rank, ticker, cnt) AS value
         |FROM ranked""".stripMargin,

    "word_count_formatted" ->
      s"""$linesCte,
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT printf('%d: %s\t%d', rank, word, cnt) AS value
         |FROM ranked WHERE rank <= 100""".stripMargin,

    "stream_windowed_counts" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_windowed_counts_file" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "stream_topk_types" ->
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin,

    // the naive answer the sharded streaming-MG + exact batch pass must
    // equal: every user above N/150 of the whole stream
    "stream_heavy_hitters" ->
      """WITH tot AS (SELECT count(*) AS n FROM events)
        |SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS cnt
        |FROM events, tot GROUP BY user_id, n
        |HAVING count(*) * 150 > n""".stripMargin,

    // the streamed bitmap rollup must equal plain batch exact distinct
    "stream_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    // the commutative-state contract: the unordered multi-batch replay
    // must equal this one-shot batch first-touch computation exactly
    "stream_funnel_touch" ->
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
        |FROM a""".stripMargin,

    // train-serve consistency: the streamed PIT enrichment must equal the
    // batch PIT join (same SQL as rel_scd2_pit)
    "stream_scd2_enrich" ->
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
        |  AND e.t >= dim.vf AND (dim.vt IS NULL OR e.t < dim.vt)""".stripMargin,

    // batch sessionization (gap > 30 min), minus each user's LAST session
    // — that one is still open in the stream and must not have emitted
    "stream_closed_sessions" ->
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
        |FROM m WHERE sid < max_sid""".stripMargin,

    // a 1h-window/15min-slide assigns each event to the 4 windows starting
    // at time_bucket(15 min) - k*15 min, k = 0..3 (ts is always >= the
    // window start and < start + 1h by construction)
    "stream_sliding_counts" ->
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
        |         - to_minutes(15 * k)) AS win_start_us,
        |       event_type, count(*) AS cnt
        |FROM events, unnest([0, 1, 2, 3]) AS t(k)
        |GROUP BY 1, 2""".stripMargin,

    "stream_wordcount" ->
      s"""WITH ${tokensCte("text")}
         |SELECT token AS word, count(*) AS cnt FROM toks
         |WHERE len(token) > 0 AND token NOT IN $stopListSql
         |GROUP BY token""".stripMargin,

    "stream_dedup_keys" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // batch re-derivation of the stream-static novelty gate: same sigs,
    // same 4 band values; novel = no band in the historical band set
    "stream_dedup_against_corpus" -> {
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
    },

    "stream_session_counts" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,

    // micro-precision comparison on both sides: Spark compares timestamps
    // at micros; comparing raw TIMESTAMP_NS here could flip pairs that sit
    // within 1 us of the interval boundary
    "stream_join_attrib" ->
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
        |  AND v_ts_us >= p_ts_us - 1800000000""".stripMargin,

    "stream_join_left_outer" ->
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
        |  AND p_ts_us <= v_ts_us + 1800000000""".stripMargin,

    "stream_static_enrich" ->
      """SELECT user_id, event_type, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,

    "rel_q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price,
        |       cast(cast(sum(cast(l_discount AS decimal(18,4))) AS decimal(18,4)) AS double) AS sum_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // chunking is an optimization detail — the answer is the plain
    // overlap join
    "rel_interval_cover_count" ->
      """WITH spans AS (
        |  SELECT user_id, min(ts) AS st, max(ts) AS en
        |  FROM events GROUP BY user_id, date_trunc('day', ts)
        |)
        |SELECT e.event_id, count(*) AS n_concurrent
        |FROM events e JOIN spans s
        |  ON s.st <= e.ts AND e.ts <= s.en AND s.user_id <> e.user_id
        |GROUP BY e.event_id""".stripMargin,

    // the partitioned layout is an optimization detail — the answer is the
    // plain join + count-threshold filter over the raw events
    "rel_dpp_prune" ->
      """WITH f AS (
        |  SELECT event_type, cast(round(value * 1000) AS bigint) AS v
        |  FROM events
        |), d AS (
        |  SELECT event_type, count(*) AS n_type FROM events GROUP BY 1
        |), t AS (SELECT count(*) AS n_total FROM events)
        |SELECT f.event_type, count(*) AS n_events,
        |       cast(sum(f.v) AS bigint) AS v_total
        |FROM f JOIN d USING (event_type) CROSS JOIN t
        |WHERE d.n_type * 10000 > t.n_total * 2005
        |GROUP BY f.event_type""".stripMargin,

    "rel_join_3way" ->
      """SELECT r_name, count(*) AS n_cust,
        |       cast(cast(sum(cast(c_acctbal AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "rel_join_left_outer" ->
      """SELECT n_name, count(s_suppkey) AS n_supp
        |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "rel_join_full_outer" ->
      """WITH sup AS (
        |  SELECT s_nationkey AS snk, count(*) AS n_supp FROM supplier
        |  WHERE s_nationkey < 15 GROUP BY s_nationkey
        |), cus AS (
        |  SELECT c_nationkey AS cnk, count(*) AS n_cust FROM customer
        |  WHERE c_nationkey >= 10 GROUP BY c_nationkey
        |)
        |SELECT coalesce(snk, cnk) AS nationkey, n_supp, n_cust
        |FROM sup FULL OUTER JOIN cus ON snk = cnk""".stripMargin,

    "rel_semi_join" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "rel_retention_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, cast(ts AS date) AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id
        |), a AS (
        |  SELECT DISTINCT
        |         date_diff('day', DATE '1970-01-01', f.cohort) AS cohort_day,
        |         date_diff('day', f.cohort, e.day) AS offset_days,
        |         e.user_id
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cast(cohort_day AS bigint) AS cohort_day,
        |       cast(offset_days AS bigint) AS offset_days,
        |       count(*) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,

    // the strict > comparisons drop users whose later step never happened
    // (NULL compares unknown -> not counted) on both engines; micros
    // precision on BOTH sides — comparing raw TIMESTAMP_NS could flip
    // pairs that sit within 1 us of each other
    "rel_funnel_steps" ->
      """WITH us AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |           AS t_view,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |           AS t_click,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |           AS t_purchase
        |  FROM events GROUP BY user_id
        |)
        |SELECT sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |         AS n_view,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
        |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                AND t_purchase > t_click
        |                THEN 1 ELSE 0 END)::BIGINT AS n_full_funnel
        |FROM us""".stripMargin,

    "rel_cdc_apply" ->
      """WITH lg AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts_us DESC, event_id DESC)
        |            AS rn
        |  FROM lg
        |)
        |SELECT user_id, ts_us, value FROM r
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    // the bloom pre-filter is a transparent accelerator: the real join
    // removes its false positives, so the oracle is the PLAIN join — a
    // false negative anywhere would drop rows and fail the hash compare
    "rel_bloom_join_prune" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderstatus""".stripMargin,

    // contract flags are deterministic (the bloom's internal hashing is
    // seed-free): no present key may miss, absent-key FPR under the bound
    "rel_bloom_fpp_bounded" ->
      """SELECT cast(0 AS bigint) AS n_present_missed,
        |       cast(1 AS bigint) AS fpr_ok""".stripMargin,

    "rel_anti_join" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "rel_window_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "rel_distinct_agg" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS d_part,
        |       count(DISTINCT l_suppkey) AS d_supp,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_supp
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "rel_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "rel_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,

    "rel_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,

    "rel_union_distinct" ->
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'signup'
        |  UNION ALL
        |  SELECT user_id FROM events WHERE event_type = 'error')""".stripMargin,

    "rel_time_hourly_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "rel_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), m AS (
        |  SELECT user_id, ts_us, event_id,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m
        |)
        |SELECT user_id, cast(max(sess_id) AS bigint) AS n_sessions,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id""".stripMargin,

    "rel_global_rank_plan" ->
      """SELECT event_id, value,
        |       row_number() OVER (ORDER BY value DESC, event_id) AS rank
        |FROM events""".stripMargin,

    "rel_global_rank_ties" ->
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS rnk
        |FROM orders""".stripMargin,

    "rel_global_dense_rank" ->
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(dense_rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS day_idx
        |FROM orders""".stripMargin,

    "rel_percent_rank" ->
      """SELECT o_orderkey, o_totalprice,
        |       round(percent_rank() OVER (ORDER BY o_totalprice), 9) AS pr
        |FROM orders""".stripMargin,

    "rel_cume_dist" ->
      """SELECT o_orderkey, o_totalprice,
        |       round(cume_dist() OVER (ORDER BY o_totalprice), 9) AS cd
        |FROM orders""".stripMargin,

    "rel_ntile_buckets" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT t, event_id,
        |       cast(ntile(10) OVER (ORDER BY t, event_id)
        |            AS integer) AS decile
        |FROM e""".stripMargin,

    "rel_first_value" ->
      """SELECT o_orderkey, o_totalprice,
        |       first_value(o_totalprice)
        |         OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        |FROM orders""".stripMargin,

    "rel_last_known_value" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id, v,
        |       last_value(v IGNORE NULLS) OVER (ORDER BY t, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_good
        |FROM e""".stripMargin,

    "rel_nth_value" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       nth_value(v, 100) OVER (ORDER BY t, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS v100
        |FROM e""".stripMargin,

    "rel_last_good_hour" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hs, event_id FROM events
        |), e2 AS (
        |  SELECT hs, event_id,
        |         CASE WHEN hs % 5 <> 0 THEN hs % 997 END AS hv
        |  FROM e
        |)
        |SELECT hs, event_id, hv,
        |       last_value(hv IGNORE NULLS) OVER (ORDER BY hs) AS last_good
        |FROM e2""".stripMargin,

    "rel_pivot_events" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "rel_unpivot_measures" ->
      """SELECT l_returnflag, 'quantity' AS measure,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS total
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'extendedprice' AS measure,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_except_all" ->
      """SELECT user_id, count(*) AS cnt FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id""".stripMargin,

    "rel_intersect_all" ->
      """SELECT user_id, count(*) AS cnt FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id""".stripMargin,

    "rel_json_extract" ->
      """SELECT event_type,
        |       cast(sum(cast(json_extract_string(props, '$.k') AS bigint))
        |            AS bigint) AS sum_k,
        |       count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_date_parts" ->
      """SELECT cast(year(o_orderdate) AS bigint) AS yr,
        |       cast(quarter(o_orderdate) AS bigint) AS qtr,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "text_string_funcs" ->
      """SELECT doc_id,
        |       substr(source, 1, 3) AS pre,
        |       reverse(source) AS rev,
        |       lpad(lang, 5, '_') AS padded,
        |       concat_ws('|', lang, source) AS joined,
        |       length(text) AS text_len
        |FROM documents""".stripMargin,

    "media_metadata" ->
      """SELECT doc_id AS media_id, source AS kind, 'utf8' AS format,
        |       md5(text) AS payload_md5,
        |       cast(octet_length(encode(text)) AS bigint) AS n_bytes
        |FROM documents""".stripMargin,

    // float (REAL) narrowing mirrors the engine's Float features; solid
    // colors make every mean exact
    "media_image_decode" ->
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
        |FROM documents""".stripMargin,

    // the decoded content of a solid PNG is its geometry + exact channel
    // means, all analytic in the pattern key k = doc_id % 50
    "media_image_dedup" ->
      """WITH k AS (SELECT doc_id, doc_id % 50 AS k FROM documents)
        |SELECT md5(concat_ws(',', 1 + k % 13, 1 + k % 7,
        |                     k % 256, k * 7 % 256, k * 13 % 256))
        |         AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM k GROUP BY 1""".stripMargin,

    "media_audio_decode" ->
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
        |FROM documents""".stripMargin,

    // first half of the frames at a1, rest at a2; window w covers frames
    // [8w, min(8w+8, F)); n1 = frames of segment 1 inside the window
    "media_audio_windows" ->
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
        |FROM w""".stripMargin,

    // from-scratch integer replay of the Z[√2] 8-point DFT: sample s at
    // global frame g = 8i+n is a1 below f/2, a2 below f, 0 (zero-pad)
    // after; twiddle 2·e^(-2πij/8) at j=(k*n)%8 has (re, im) components
    // (a, b) with value a+b√2, hard-coded on both sides — no cos()
    // anywhere; |X|² = (ra²+2rb²+ia²+2ib²) + 2(ra·rb+ia·ib)·√2
    "media_audio_spectral" ->
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
        .stripMargin,

    // one row per sampled (every-2nd) frame; solid indexed-palette frames
    // make every decoded mean an exact integer
    "media_video_frames" ->
      """SELECT doc_id AS media_id,
        |       cast(i AS bigint) AS frame_idx,
        |       cast(2 + doc_id % 4 AS bigint) AS n_frames,
        |       cast(1 + doc_id % 3 AS bigint) AS w,
        |       cast(1 + doc_id % 2 AS bigint) AS h,
        |       cast((doc_id + 17 * i) % 256 AS double) AS mean_r,
        |       cast((doc_id * 3 + 29 * i) % 256 AS double) AS mean_g,
        |       cast((doc_id * 5 + 41 * i) % 256 AS double) AS mean_b
        |FROM documents CROSS JOIN (VALUES (0), (2), (4)) AS t(i)
        |WHERE i < 2 + doc_id % 4""".stripMargin,

    // same sampled frames as media_video_frames (every 2nd), with the
    // media_image_resize geometry applied per frame: scale = 4.0/max(w,h),
    // never upscale, trunc toward zero (Java (int) cast), floor at 1;
    // solid colors survive bilinear + lossless PNG exactly
    "media_video_resize" ->
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
        |WHERE i < 2 + doc_id % 4""".stripMargin,

    // integer geometry: scale = 4.0/max(w,h); no upscale; trunc toward
    // zero matches Java's (int) cast; colors survive bilinear exactly
    // because the source frames are constant
    "media_image_resize" ->
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
        |FROM g""".stripMargin,

    "rel_null_safe_join" ->
      """WITH e AS (
        |  SELECT event_id, nullif(event_type, 'error') AS k FROM events
        |), g AS (
        |  SELECT k AS gk, count(*) AS group_cnt FROM e GROUP BY k
        |)
        |SELECT event_id, k, group_cnt
        |FROM e JOIN g ON e.k IS NOT DISTINCT FROM g.gk""".stripMargin,

    "rel_window_navigation" ->
      """SELECT user_id, event_id,
        |       lag(event_type, 1) OVER w AS prev_type,
        |       lead(event_type, 1) OVER w AS next_type,
        |       first_value(epoch_us(ts)) OVER w AS first_ts_us,
        |       lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS us_to_next
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin,

    "rel_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |       cast(grouping(o_orderstatus) AS bigint) AS g_status,
        |       cast(grouping(o_orderpriority) AS bigint) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "rel_trailing_window" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                      RANGE BETWEEN 3600000000 PRECEDING
        |                            AND CURRENT ROW) AS n_trailing_1h
        |FROM events""".stripMargin,

    "rel_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hr
        |  FROM events
        |), hourly AS (
        |  SELECT event_type, hr, count(*) AS cnt FROM e GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(hr) AS lo, max(hr) AS hi FROM e
        |), spine AS (
        |  SELECT t.event_type, s.hr
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, 3600000000))
        |              AS hr FROM bounds) s
        |)
        |SELECT spine.event_type, spine.hr,
        |       coalesce(last_value(hourly.cnt IGNORE NULLS) OVER (
        |         PARTITION BY spine.event_type ORDER BY spine.hr
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |         AS filled_cnt,
        |       hourly.cnt IS NOT NULL AS observed
        |FROM spine
        |LEFT JOIN hourly ON spine.event_type = hourly.event_type
        |                AND spine.hr = hourly.hr""".stripMargin,

    "rel_window_distribution" ->
      """SELECT event_type, event_id,
        |       cast(ntile(4) OVER w AS bigint) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pr
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin,

    "rel_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |), m AS (
        |  SELECT user_id, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w >= 1800000000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), s AS (
        |  SELECT user_id, ts_us,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |                             ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m
        |)
        |SELECT user_id, min(ts_us) AS sess_start_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id""".stripMargin,

    "rel_q3_shipping" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderpriority""".stripMargin,

    "rel_q5_region_revenue" ->
      """SELECT n_name,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin,

    "rel_q2_min_cost" ->
      """WITH ps AS (SELECT l_partkey AS ps_partkey,
        |                  l_suppkey AS ps_suppkey,
        |                  min(l_extendedprice) AS ps_supplycost
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, p_brand, s_name, n_name,
        |       cast(cast(ps_supplycost AS decimal(18,2)) AS double)
        |         AS min_cost
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size <= 10
        |  AND ps_supplycost =
        |      (SELECT min(ps2.ps_supplycost)
        |       FROM ps ps2, supplier s2, nation n2, region r2
        |       WHERE ps2.ps_partkey = p_partkey
        |         AND ps2.ps_suppkey = s2.s_suppkey
        |         AND s2.s_nationkey = n2.n_nationkey
        |         AND n2.n_regionkey = r2.r_regionkey
        |         AND r2.r_name = 'EUROPE')""".stripMargin,

    "rel_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       cast(year(l_shipdate) AS bigint) AS l_year,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "rel_ohlc_bars" ->
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
        |SELECT event_type, bar,
        |       max(CASE WHEN rn_a = 1 THEN v END) AS open,
        |       max(v) AS high, min(v) AS low,
        |       max(CASE WHEN rn_d = 1 THEN v END) AS close,
        |       count(*)::BIGINT AS n
        |FROM r GROUP BY 1, 2""".stripMargin,

    // the streamed bars must equal the batch rollup (same SQL, win_start
    // aliased to bar)
    "stream_ohlc" ->
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
        |FROM r GROUP BY 1, 2""".stripMargin,

    "rel_dq_checks" ->
      """SELECT 'orders_custkey_fk' AS check,
        |       (SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey))::BIGINT
        |         AS n_violations,
        |       (SELECT count(*) FROM orders)::BIGINT AS n_checked
        |UNION ALL
        |SELECT 'lineitem_qty_range',
        |       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |                THEN 1 ELSE 0 END)::BIGINT,
        |       count(*)::BIGINT
        |FROM lineitem
        |UNION ALL
        |SELECT 'customer_key_unique',
        |       sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT,
        |       sum(c)::BIGINT
        |FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
        |UNION ALL
        |SELECT 'events_value_nonnull',
        |       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |       count(*)::BIGINT
        |FROM events""".stripMargin,

    // IVM contract: merge-of-partials equals recompute-from-scratch
    "rel_ivm_agg" ->
      """SELECT o_custkey, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders GROUP BY 1""".stripMargin,

    "rel_multi_touch_attrib" ->
      """WITH v AS (
        |  SELECT user_id AS v_user, epoch_us(ts) AS v_t FROM events
        |  WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS p_id, user_id AS p_user, epoch_us(ts) AS p_t
        |  FROM events WHERE event_type = 'purchase'
        |), pairs AS (
        |  SELECT p_id, p_user FROM p JOIN v
        |    ON p_user = v_user AND v_t <= p_t
        |   AND v_t >= p_t - 1800000000
        |), k AS (SELECT p_id, count(*)::BIGINT AS k FROM pairs GROUP BY 1)
        |SELECT p_user AS user_id, count(*)::BIGINT AS n_touches,
        |       round(sum(CAST(1.0 AS DOUBLE) / k::DOUBLE), 6) AS credit
        |FROM pairs JOIN k USING (p_id)
        |GROUP BY 1""".stripMargin,

    "rel_decayed_counts" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        |n AS (SELECT max(t) AS t_now FROM e)
        |SELECT event_type, count(*)::BIGINT AS n,
        |       round(sum(exp((t - t_now)::DOUBLE
        |                     / CAST(86400000000 AS DOUBLE))), 6)
        |         AS decayed
        |FROM e CROSS JOIN n
        |GROUP BY 1""".stripMargin,

    "rel_scd2_build" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS vf, event_id,
        |         cast(json_extract_string(props, '$.k') AS bigint) AS k
        |  FROM events WHERE event_type = 'signup'
        |)
        |SELECT user_id, vf, k,
        |       lead(vf) OVER w AS vt,
        |       cast(row_number() OVER w AS bigint) AS version,
        |       (lead(vf) OVER w IS NULL) AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY vf, event_id)""".stripMargin,

    "rel_scd2_pit" ->
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
        |  AND e.t >= dim.vf AND (dim.vt IS NULL OR e.t < dim.vt)""".stripMargin,

    "rel_merge_upsert" ->
      """WITH upd AS (SELECT o_custkey, max(o_totalprice) AS new_bal
        |             FROM orders GROUP BY 1)
        |SELECT c_custkey, c_name,
        |       cast(cast(c_acctbal AS decimal(18,2)) AS double) AS bal,
        |       false AS is_current
        |FROM customer JOIN upd ON c_custkey = o_custkey
        |UNION ALL
        |SELECT c_custkey, c_name,
        |       cast(cast(new_bal AS decimal(18,2)) AS double) AS bal,
        |       true AS is_current
        |FROM customer JOIN upd ON c_custkey = o_custkey
        |UNION ALL
        |SELECT c_custkey, c_name,
        |       cast(cast(c_acctbal AS decimal(18,2)) AS double) AS bal,
        |       true AS is_current
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                  WHERE u.o_custkey = c.c_custkey)""".stripMargin,

    "rel_salted_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_skew_salted_join" ->
      """SELECT p_brand, count(*) AS cnt,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    // identical results to the salted form by construction — the A/B
    // twin shares the one unsalted definition
    "rel_skew_unsalted_join" ->
      """SELECT p_brand, count(*) AS cnt,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "rel_range_join" ->
      """SELECT band, count(*) AS cnt,
        |       cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_value
        |FROM events
        |JOIN (VALUES (-1e18, 100.0, 'low'), (100.0, 250.0, 'mid'),
        |             (250.0, 1e18, 'high')) r(lo, hi, band)
        |  ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin,

    "rel_approx_distinct_bounded" ->
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_approx_distinct" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       cast(1 AS bigint) AS within_10pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "rel_hll_union_bounded" ->
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_subquery_min_price" ->
      """SELECT p_brand, p_partkey,
        |       cast(cast(p_retailprice AS decimal(18,2)) AS double)
        |         AS p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
        |                       WHERE p2.p_brand = p.p_brand)""".stripMargin,

    "rel_subquery_exists" ->
      """SELECT o_orderkey, o_orderstatus
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity >= 45)""".stripMargin,

    "rel_approx_quantile_bounded" ->
      """SELECT event_type, cast(1 AS bigint) AS within_5pct
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_cms_freq_bounded" ->
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin,

    // merged daily sketches obey the same deterministic sandwich the
    // single sketch does (merge = element-wise counter add, same seed)
    "rel_cms_merge_bounded" ->
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin,

    // bit-exact Morton interleave of the low 16 bits of each dimension
    "rel_zorder_value" ->
      """WITH b AS (
        |  SELECT event_id,
        |         user_id % 65536 AS x, event_id % 65536 AS y
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum((((x >> i) & 1) << (2 * i)) +
        |                (((y >> i) & 1) << (2 * i + 1))) AS bigint) AS zval
        |FROM b CROSS JOIN (SELECT range AS i FROM range(16)) t
        |GROUP BY event_id""".stripMargin,

    "rel_q6_revenue" ->
      """SELECT cast(cast(sum(cast(l_extendedprice AS decimal(18,2))
        |                     * cast(l_discount AS decimal(4,2)))
        |                 AS decimal(18,4)) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "rel_q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(cast(l_quantity AS decimal(18,2))) AS qsum
        |  FROM lineitem GROUP BY l_orderkey HAVING qsum > 300
        |)
        |SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
        |       cast(cast(o_totalprice AS decimal(18,2)) AS double) AS o_totalprice,
        |       cast(cast(qsum AS decimal(18,2)) AS double) AS sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "text_doc_cosine" ->
      s"""WITH tk AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |    FROM documents
         |  ) GROUP BY doc_id, token
         |), nm AS (
         |  SELECT doc_id, sqrt(cast(sum(tf * tf) AS double)) AS nrm
         |  FROM tk GROUP BY doc_id
         |), dots AS (
         |  SELECT a.doc_id AS q, b.doc_id AS d,
         |         cast(sum(a.tf * b.tf) AS double) AS dot
         |  FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < 5
         |  GROUP BY a.doc_id, b.doc_id
         |), scored AS (
         |  SELECT q, d, round(dot / (n1.nrm * n2.nrm), 6) AS cos
         |  FROM dots
         |  JOIN nm n1 ON dots.q = n1.doc_id
         |  JOIN nm n2 ON dots.d = n2.doc_id
         |)
         |SELECT q, d, cos, rank FROM (
         |  SELECT q, d, cos,
         |         cast(row_number() OVER (PARTITION BY q
         |              ORDER BY cos DESC, d ASC) AS bigint) AS rank
         |  FROM scored
         |) WHERE rank <= 10""".stripMargin,

    "text_tfidf" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |), dfs AS (
         |  SELECT token, count(DISTINCT doc_id) AS df FROM tk GROUP BY token
         |), n AS (SELECT count(*) AS n FROM documents)
         |SELECT token, df, round(ln((n + 1.0) / (df + 1.0)) + 1.0, 6) AS idf
         |FROM dfs, n""".stripMargin,

    "rel_asof_last_view" ->
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
        |FROM m WHERE event_type = 'purchase'""".stripMargin,

    // cnt is the selection's own non-null count — count(value), not
    // count(*) (identical on this table, but the contract is explicit)
    "rel_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       count(value) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_exact_quantiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(cast(l_quantity AS double), 0.25), 6) AS p25,
        |       round(quantile_cont(cast(l_quantity AS double), 0.5), 6) AS p50,
        |       round(quantile_cont(cast(l_quantity AS double), 0.75), 6) AS p75,
        |       round(quantile_cont(cast(l_quantity AS double), 0.99), 6) AS p99,
        |       count(l_quantity) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // bounds rounded to 6 decimals BEFORE clipping on both sides; the
    // clipped mean's sum in DECIMAL (order-insensitive), division in
    // double — same literal sequence as the Spark side
    "rel_winsorized_stats" ->
      """WITH q AS (
        |  SELECT l_returnflag AS rf,
        |         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, lo, hi,
        |       count(*)::BIGINT AS n,
        |       sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)::BIGINT
        |         AS n_clip_lo,
        |       sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)::BIGINT
        |         AS n_clip_hi,
        |       round(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi)
        |                          AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS w_avg
        |FROM lineitem JOIN q ON l_returnflag = rf
        |GROUP BY 1, 2, 3""".stripMargin,

    // the bitmap rollup must equal plain exact distinct
    "rel_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    // both medians via quantile_cont, rounded to 6 before deviations /
    // threshold on both sides; the 4.4478 literal cast to DOUBLE (a bare
    // DuckDB numeric literal is DECIMAL and would flip the comparison
    // arithmetic)
    "rel_outlier_mad" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, med, abs(value - med) AS ad
        |  FROM events e JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, d.med, m.mad,
        |       count(*)::BIGINT AS n,
        |       sum(CASE WHEN ad > mad * CAST(4.4478 AS DOUBLE)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,

    // pruning only skips whole files; the answer must equal the plain
    // full-table range filter
    "src_manifest_prune" ->
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
        |GROUP BY 1""".stripMargin,

    "rel_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS grp_n
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT c_custkey, c.c_nationkey, c.c_mktsegment, grp_n
        |FROM customer c
        |JOIN g USING (c_nationkey, c_mktsegment)
        |WHERE grp_n >= 8""".stripMargin,

    // weighted lower quantile: smallest v whose cumulative weight (in
    // value order) reaches k = max(1, ceil(q*W)) — k is one correctly-
    // rounded double product + ceil, bit-identical on both engines
    "rel_weighted_quantiles" ->
      """WITH t AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v,
        |         cast(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |),
        |agg AS (SELECT rf, v, sum(w) AS wv FROM t GROUP BY 1, 2),
        |c AS (
        |  SELECT rf, v, sum(wv) OVER (PARTITION BY rf ORDER BY v) AS cw
        |  FROM agg
        |),
        |tot AS (SELECT rf, sum(w) AS tw FROM t GROUP BY 1),
        |k AS (
        |  SELECT rf, tw,
        |         greatest(1, cast(ceil(0.25 * tw::DOUBLE) AS BIGINT)) AS k25,
        |         greatest(1, cast(ceil(0.5 * tw::DOUBLE) AS BIGINT)) AS k50,
        |         greatest(1, cast(ceil(0.9 * tw::DOUBLE) AS BIGINT)) AS k90
        |  FROM tot
        |)
        |SELECT k.rf AS l_returnflag,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k25)
        |         AS p25_w,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k50)
        |         AS p50_w,
        |       (SELECT min(v) FROM c WHERE c.rf = k.rf AND cw >= k90)
        |         AS p90_w,
        |       cast(tw AS BIGINT) AS total_w
        |FROM k""".stripMargin,

    // the same md5-seeded uniform -> inverse-CDF Laplace per cell
    "rel_dp_histogram" ->
      """WITH h AS (
        |  SELECT event_type,
        |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), n AS (
        |  SELECT event_type, day, c,
        |         (('0x' || substr(md5(event_type || '|' || day), 1, 13))
        |            ::BIGINT::DOUBLE + CAST(0.5 AS DOUBLE))
        |           / CAST(4503599627370496 AS DOUBLE) AS u
        |  FROM h
        |)
        |SELECT event_type, day,
        |       round(greatest(CAST(0.0 AS DOUBLE),
        |             c + sign(u - 0.5) * CAST(-1.0 AS DOUBLE)
        |                 * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS released
        |FROM n""".stripMargin,

    // decile boundaries rounded HALF_UP to 6 decimals before bucketing on
    // both sides; bucket = boundaries strictly below the value
    "rel_equi_depth_hist" ->
      """WITH b AS (
        |  SELECT round(quantile_cont(o_totalprice, 0.1), 6) AS b1,
        |         round(quantile_cont(o_totalprice, 0.2), 6) AS b2,
        |         round(quantile_cont(o_totalprice, 0.3), 6) AS b3,
        |         round(quantile_cont(o_totalprice, 0.4), 6) AS b4,
        |         round(quantile_cont(o_totalprice, 0.5), 6) AS b5,
        |         round(quantile_cont(o_totalprice, 0.6), 6) AS b6,
        |         round(quantile_cont(o_totalprice, 0.7), 6) AS b7,
        |         round(quantile_cont(o_totalprice, 0.8), 6) AS b8,
        |         round(quantile_cont(o_totalprice, 0.9), 6) AS b9
        |  FROM orders
        |)
        |SELECT (CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END
        |      + CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END)::BIGINT
        |         AS bucket,
        |       count(*)::BIGINT AS cnt,
        |       round(min(o_totalprice), 6) AS lo,
        |       round(max(o_totalprice), 6) AS hi
        |FROM orders, b
        |GROUP BY 1""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t)
         |SELECT doc_id,
         |       $sigsSql
         |FROM sh""".stripMargin,

    // exact SimHash re-derivation: per token u = first-8-md5-bytes as an
    // unsigned 64-bit word (the minhash oracle's parse), per bit j the
    // sign of the ±1 sum over tokens decides bit (63-j); the unsigned
    // 64-bit result folds to Spark's signed long via a 2^64 shift.
    // Token-less documents hash to 0 (all sums empty -> no bits set).
    "dedup_simhash" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS tok
         |  FROM documents
         |), tu AS (
         |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS u
         |  FROM t
         |), b AS (
         |  SELECT doc_id, j.j,
         |         CASE WHEN sum(CASE WHEN (u >> (63 - j.j)) & 1 = 1
         |                            THEN 1 ELSE -1 END) > 0
         |              THEN (1::UBIGINT << (63 - j.j))::HUGEINT
         |              ELSE 0::HUGEINT END AS w
         |  FROM tu CROSS JOIN (SELECT range AS j FROM range(64)) j
         |  GROUP BY doc_id, j.j
         |), h AS (
         |  SELECT doc_id, sum(w) AS uh FROM b GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       cast(CASE WHEN h.uh IS NULL THEN 0
         |                 WHEN h.uh >= 9223372036854775808
         |                 THEN h.uh - 18446744073709551616
         |                 ELSE h.uh END AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin,

    "dedup_lsh_buckets" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT cast($b AS bigint) AS band_idx, " +
          s"md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |sigs AS (SELECT doc_id,
         |       $sigsSql
         |FROM sh),
         |bands AS (
         |  $bands
         |)
         |SELECT band_idx, band, count(*) AS bucket_size
         |FROM bands GROUP BY band_idx, band""".stripMargin
    },

    // the incremental index must equal a from-scratch index of snapshot
    // v1 (docs outside [200, 350)) — so the oracle is the LSH bucket
    // histogram over exactly that document slice
    "dedup_txn_incremental_lsh" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT cast($b AS bigint) AS band_idx, " +
          s"md5(sig${2 * b}::VARCHAR || ',' || sig${2 * b + 1}::VARCHAR) AS band FROM sigs")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents
         |           WHERE doc_id < 200 OR doc_id >= 350),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |sigs AS (SELECT doc_id,
         |       $sigsSql
         |FROM sh),
         |bands AS (
         |  $bands
         |)
         |SELECT band_idx, band, count(*) AS bucket_size
         |FROM bands GROUP BY band_idx, band""".stripMargin
    },

    // re-derives the engine's rolling-hash chunk boundaries in pure SQL:
    // per position i (1-based, i >= 8), Horner over code points i-7..i in
    // the 2^61-1 field (HUGEINT holds the 263x intermediates), boundary
    // iff hash % 64 = 0; chunks split AFTER boundaries, remainder last
    "dedup_cdc_chunks" ->
      """WITH cp AS (
        |  SELECT doc_id, text,
        |         list_transform(range(1, length(text) + 1),
        |                        i -> unicode(substr(text, i, 1))) AS c
        |  FROM documents
        |), bd AS (
        |  SELECT doc_id, text, len(c) AS n,
        |         list_filter(range(8, len(c) + 1),
        |           i -> list_reduce(
        |                  list_transform(range(i - 7, i + 1),
        |                                 p -> cast(c[p] AS HUGEINT)),
        |                  (acc, x) -> (acc * 263 + x) %
        |                              cast(2305843009213693951 AS HUGEINT))
        |                % 64 = 0) AS b
        |  FROM cp
        |), chunks AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(b) + 2),
        |           k -> substr(text,
        |                  (CASE WHEN k = 1 THEN 0 ELSE b[k - 1] END) + 1,
        |                  (CASE WHEN k = len(b) + 1 THEN n ELSE b[k] END)
        |                    - (CASE WHEN k = 1 THEN 0 ELSE b[k - 1] END))))
        |           AS chunk
        |  FROM bd
        |)
        |SELECT md5(chunk) AS chunk_md5, count(*) AS n_occ,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM chunks GROUP BY 1 HAVING count(*) > 1""".stripMargin,

    // the naive single-pass answer the two-pass MG plan must equal:
    // every token above N/50 of the whole stream, counted exactly
    "rel_heavy_hitters" ->
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |), tot AS (SELECT count(*) AS n FROM tk)
         |SELECT token, count(*) AS cnt
         |FROM tk, tot GROUP BY token, n
         |HAVING count(*) * 50 > n""".stripMargin,

    // quadratic ground truth for the deletion-signature fuzzy join:
    // every distinct-name pair within Levenshtein distance 1 (length
    // prefilter only prunes pairs levenshtein already rejects)
    "dedup_edit_distance_pairs" ->
      """WITH tk AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM tk a, tk b
        |WHERE a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1""".stripMargin,

    // quadratic exact ground truth for the prefix-filtered ssjoin: every
    // doc pair whose distinct-shingle Jaccard clears 0.6 (size band only
    // prunes pairs the threshold already rejects)
    "dedup_ssjoin_exact" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l
         |           FROM documents),
         |s AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM t),
         |cand AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |         len(list_intersect(a.sh, b.sh)) AS inter,
         |         len(a.sh) AS n1, len(b.sh) AS n2
         |  FROM s a, s b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(b.sh) >= CAST(ceil(len(a.sh) * 0.6) AS BIGINT)
         |    AND len(a.sh) >= CAST(ceil(len(b.sh) * 0.6) AS BIGINT)
         |)
         |SELECT id1, id2,
         |       round(inter::DOUBLE / (n1 + n2 - inter), 6) AS jaccard
         |FROM cand
         |WHERE inter::DOUBLE / (n1 + n2 - inter) >= 0.6""".stripMargin,

    // the naive symmetric difference the two-phase merkle diff must
    // equal; 1.1 cast to DOUBLE so the reprice arithmetic matches
    // Spark's double path (bare literals are DECIMAL in DuckDB)
    "rel_merkle_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey AS key,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS val
        |  FROM orders
        |), nw AS (
        |  SELECT key,
        |         CASE WHEN key % 97 = 0
        |              THEN CAST(round(val * 1.1::DOUBLE) AS BIGINT)
        |              ELSE val END AS val
        |  FROM old WHERE key % 101 <> 0
        |  UNION ALL
        |  SELECT key + 1000000000, val FROM old WHERE key % 103 = 0
        |)
        |SELECT key, change FROM (
        |  SELECT coalesce(o.key, n.key) AS key,
        |         CASE WHEN o.key IS NULL THEN 'inserted'
        |              WHEN n.key IS NULL THEN 'deleted'
        |              WHEN o.val <> n.val THEN 'modified' END AS change
        |  FROM old o FULL OUTER JOIN nw n ON o.key = n.key
        |) WHERE change IS NOT NULL""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
         |       CASE WHEN len(trim(text)) = 0 THEN 0
         |            ELSE len(string_split_regex(trim(text), '\\s+')) END
         |         AS n_tokens,
         |       len(list_distinct(${cleanToksSql("text")})) AS n_uniq,
         |       n_chars
         |FROM documents""".stripMargin,

    "text_seq_packing" ->
      s"""WITH n AS (
         |  SELECT CASE WHEN len(trim(text)) = 0 THEN 0
         |              ELSE len(string_split_regex(trim(text), '\\s+')) END
         |           AS n_tokens
         |  FROM documents
         |), b AS (
         |  SELECT cast(CASE WHEN n_tokens <= 16 THEN 16
         |              WHEN n_tokens <= 32 THEN 32
         |              WHEN n_tokens <= 64 THEN 64
         |              WHEN n_tokens <= 128 THEN 128
         |              WHEN n_tokens <= 256 THEN 256
         |              WHEN n_tokens <= 512 THEN 512
         |              WHEN n_tokens <= 1024 THEN 1024
         |              WHEN n_tokens <= 2048 THEN 2048
         |              ELSE 4096 END AS bigint) AS bucket,
         |         n_tokens
         |  FROM n
         |)
         |SELECT bucket, count(*) AS n_docs,
         |       cast(sum(n_tokens) AS bigint) AS sum_tokens,
         |       round(1.0 - sum(n_tokens) * 1.0 / (count(*) * bucket), 6)
         |         AS waste_frac
         |FROM b GROUP BY bucket""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, ${cleanToksSql("text")} AS l FROM documents
         |), f AS (
         |  SELECT doc_id, text,
         |    CASE WHEN len(l) = 0 THEN 0.0
         |         ELSE cast(len(list_filter(l, x -> list_contains($stopListDuck, x))) AS double)
         |              / cast(len(l) AS double) END AS sw,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
         |              / cast(length(text) AS double) END AS punct,
         |    CASE WHEN len(l) = 0 THEN 0.0
         |         ELSE cast(len(list_distinct(l)) AS double)
         |              / cast(len(l) AS double) END AS uniq
         |  FROM t
         |)
         |SELECT doc_id, round(sw, 6) AS sw_ratio, round(punct, 6) AS punct_ratio,
         |       round(uniq, 6) AS uniq_ratio,
         |       round(((CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
         |              + (CASE WHEN sw BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.0 END)
         |              + (CASE WHEN punct < 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS q_score
         |FROM f""".stripMargin,

    "text_lang_id" ->
      s"""${langPredCtes("doc_id")}
         |SELECT doc_id, lang_pred FROM p""".stripMargin,

    "text_lang_confusion" ->
      s"""${langPredCtes("lang")}
         |SELECT lang, lang_pred, count(*) AS cnt
         |FROM p GROUP BY lang, lang_pred""".stripMargin,

    "pipeline_feature_store" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS BIGINT) END AS v
        |  FROM events
        |), n AS (SELECT max(t) AS t_now FROM e),
        |a AS (
        |  SELECT user_id, count(*)::BIGINT AS n_events,
        |         max(t) AS last_seen_us,
        |         min(CASE WHEN event_type = 'signup' THEN t END) AS s,
        |         min(CASE WHEN event_type = 'view' THEN t END) AS w,
        |         min(CASE WHEN event_type = 'purchase' THEN t END) AS p,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1
        |                  ELSE 0 END)::BIGINT AS n_purchases,
        |         sum(CASE WHEN event_type = 'purchase' THEN v
        |                  ELSE 0 END)::BIGINT AS purchase_milli,
        |         round(sum(exp((t - t_now)::DOUBLE
        |                       / CAST(86400000000 AS DOUBLE))), 6)
        |           AS recency
        |  FROM e CROSS JOIN n GROUP BY user_id
        |)
        |SELECT user_id, n_events, last_seen_us,
        |       (CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND w IS NOT NULL AND w > s
        |               THEN 1 ELSE 0 END
        |        + CASE WHEN s IS NOT NULL AND w IS NOT NULL AND w > s
        |               AND p IS NOT NULL AND p > w THEN 1 ELSE 0 END
        |       )::BIGINT AS steps_completed,
        |       n_purchases, purchase_milli, recency
        |FROM a""".stripMargin,

    "pipeline_training_data" ->
      s"""${langPredCtes("doc_id")},
         |d AS (
         |  SELECT doc.doc_id, doc.text, p.lang_pred,
         |         cast(len(${cleanToksSql("doc.text")}) AS bigint) AS n_tok
         |  FROM documents doc JOIN p ON doc.doc_id = p.doc_id
         |),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                               ORDER BY doc_id) AS rn
         |  FROM d WHERE lang_pred <> 'unknown' AND n_tok >= 5
         |),
         |sp AS (
         |  SELECT doc_id, lang_pred, n_tok,
         |         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |                   % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |                   % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM dd WHERE rn = 1
         |)
         |SELECT split, lang_pred, count(*) AS n_docs,
         |       cast(sum(n_tok) AS bigint) AS n_tokens
         |FROM sp GROUP BY 1, 2""".stripMargin,

    "text_redact" ->
      """SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             text || ' contact user' || doc_id || '@example.com or '
        |                  || 'http://ex.co/p' || doc_id || ' ref '
        |                  || (doc_id * 37),
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |             '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |         '[0-9]+', '<NUM>', 'g') AS clean
        |FROM documents""".stripMargin,

    "text_bm25" -> {
      val terms = Seq("join", "vector", "dup")
      val dfs = terms.zipWithIndex.map { case (t, i) =>
        s"cast(sum(CASE WHEN list_contains(l, '$t') THEN 1 ELSE 0 END) AS double) AS df$i"
      }.mkString(",\n         |                ")
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"cast(len(list_filter(l, x -> x = '$t')) AS double) AS tf$i"
      }.mkString(",\n         |         ")
      val score = terms.indices.map { i =>
        s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
          s"(tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString("\n         |           + ")
      s"""WITH tk AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |base AS (SELECT doc_id, l, cast(len(l) AS double) AS dl FROM tk),
         |stats AS (SELECT cast(count(*) AS double) AS n, avg(dl) AS avgdl,
         |                $dfs
         |         FROM base),
         |tf AS (SELECT doc_id, dl,
         |         $tfs
         |       FROM base)
         |SELECT doc_id,
         |       round($score, 6) AS bm25
         |FROM tf CROSS JOIN stats
         |WHERE bm25 > 0
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 20""".stripMargin
    },

    // same BM25 and cosine formulations as text_bm25 / emb_knn_cosine,
    // ranked with identical rounded-score + id tiebreaks, fused with
    // the same DOUBLE-cast RRF arithmetic
    "emb_hybrid_rrf" -> {
      val terms = Seq("join", "vector", "dup")
      val dfs = terms.zipWithIndex.map { case (t, i) =>
        s"cast(sum(CASE WHEN list_contains(l, '$t') THEN 1 ELSE 0 END) AS double) AS df$i"
      }.mkString(",\n         |                ")
      val tfs = terms.zipWithIndex.map { case (t, i) =>
        s"cast(len(list_filter(l, x -> x = '$t')) AS double) AS tf$i"
      }.mkString(",\n         |         ")
      val score = terms.indices.map { i =>
        s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * 2.2) / " +
          s"(tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString("\n         |           + ")
      s"""WITH tk AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |base AS (SELECT doc_id, l, cast(len(l) AS double) AS dl FROM tk),
         |stats AS (SELECT cast(count(*) AS double) AS n, avg(dl) AS avgdl,
         |                $dfs
         |         FROM base),
         |tf AS (SELECT doc_id, dl,
         |         $tfs
         |       FROM base),
         |bm AS (SELECT doc_id, round($score, 6) AS bm25
         |       FROM tf CROSS JOIN stats),
         |lex AS (
         |  SELECT doc_id AS lid,
         |         cast(row_number() OVER (ORDER BY bm25 DESC, doc_id)
         |              AS BIGINT) AS r_lex
         |  FROM bm QUALIFY r_lex <= 50
         |),
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), $embUnnestCte,
         |d AS (
         |  SELECT v.vec_id,
         |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
         |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |),
         |cosd AS (SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6)
         |                  AS cos
         |         FROM d, qq),
         |vecr AS (
         |  SELECT vec_id AS vid,
         |         cast(row_number() OVER (ORDER BY cos DESC, vec_id)
         |              AS BIGINT) AS r_vec
         |  FROM cosd QUALIFY r_vec <= 50
         |)
         |SELECT coalesce(lid, vid) AS id, r_lex, r_vec,
         |       round(coalesce(CAST(1.0 AS DOUBLE)
         |                      / (CAST(60.0 AS DOUBLE) + r_lex::DOUBLE),
         |                      CAST(0.0 AS DOUBLE))
         |           + coalesce(CAST(1.0 AS DOUBLE)
         |                      / (CAST(60.0 AS DOUBLE) + r_vec::DOUBLE),
         |                      CAST(0.0 AS DOUBLE)), 9) AS rrf
         |FROM lex FULL OUTER JOIN vecr ON lid = vid
         |ORDER BY rrf DESC, id LIMIT 10""".stripMargin
    },

    // identical md5-uniform, identical literal fp sequence; DOUBLE casts
    // everywhere (bare DuckDB numeric literals are DECIMAL)
    "rel_weighted_sample" ->
      """WITH t AS (
        |  SELECT event_id, event_type,
        |         round(-ln((('0x' || substr(md5(event_id::VARCHAR), 1, 13))
        |                      ::BIGINT::DOUBLE + CAST(0.5 AS DOUBLE))
        |                   / CAST(4503599627370496 AS DOUBLE))
        |               / CASE WHEN event_type = 'click'
        |                      THEN CAST(20.0 AS DOUBLE)
        |                      WHEN event_type = 'view'
        |                      THEN CAST(10.0 AS DOUBLE)
        |                      ELSE CAST(5.0 AS DOUBLE) END,
        |               9) AS k
        |  FROM events
        |)
        |SELECT event_id, event_type, k FROM t
        |ORDER BY k, event_id LIMIT 500""".stripMargin,

    // exact integer sums (DuckDB bigint sums are int128 — exact), the
    // same closed-form double arithmetic in the same literal order
    "rel_regression_per_key" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |         cast(round(value * 1000) AS BIGINT) AS y
        |  FROM events
        |  WHERE round(value * 1000) IS NOT NULL
        |), m AS (
        |  SELECT event_type AS et, min(t) AS t0 FROM e GROUP BY 1
        |), d AS (
        |  SELECT event_type, (t - t0) // 1000000 AS x, y
        |  FROM e JOIN m ON event_type = et
        |), a AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
        |  FROM d GROUP BY 1
        |)
        |SELECT event_type, n,
        |       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
        |             9) AS slope,
        |       round((sy::DOUBLE
        |              - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |                 / (n::DOUBLE * sxx::DOUBLE
        |                    - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
        |             / n::DOUBLE, 6) AS intercept
        |FROM a""".stripMargin,

    // DuckDB's recursive UNION dedups (node, dist) pairs against the
    // full accumulated set each round — exactly BFS level expansion;
    // min(dist) at the end equals the Spark side's first-visit distance.
    // Identical hop cap (dist < 6) on both sides; the graph's diameter
    // is smaller, so both actually stop on frontier exhaustion.
    "rel_shortest_path" ->
      """WITH RECURSIVE ed AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
        |                  's' || l_suppkey::VARCHAR AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e2 AS (
        |  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed
        |), bfs AS (
        |  SELECT 's1'::VARCHAR AS node, 0::BIGINT AS dist
        |  UNION
        |  SELECT e2.b, bfs.dist + 1
        |  FROM bfs JOIN e2 ON e2.a = bfs.node
        |  WHERE bfs.dist < 6
        |)
        |SELECT node, min(dist)::BIGINT AS dist FROM bfs GROUP BY 1""".stripMargin,

    "rel_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type
        |  FROM events
        |), p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY t, event_id) AS src,
        |         event_type AS dst
        |  FROM e
        |), c AS (
        |  SELECT src, dst, count(*)::BIGINT AS cnt
        |  FROM p WHERE src IS NOT NULL GROUP BY 1, 2
        |), tt AS (
        |  SELECT src, sum(cnt)::BIGINT AS tot FROM c GROUP BY 1
        |)
        |SELECT c.src, c.dst, c.cnt,
        |       round(c.cnt::DOUBLE / tt.tot::DOUBLE, 6) AS prob
        |FROM c JOIN tt USING (src)""".stripMargin,

    // identical literal per-cell formulas over exact longs; no double
    // summation on either side, so the rounded compare is exact
    "rel_mutual_info" ->
      """WITH j AS (
        |  SELECT event_type, hour(ts)::BIGINT AS hr, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2
        |), rm AS (SELECT event_type, sum(cnt)::BIGINT AS rc FROM j GROUP BY 1),
        |cm AS (SELECT hr, sum(cnt)::BIGINT AS cc FROM j GROUP BY 1),
        |nn AS (SELECT sum(cnt)::BIGINT AS n FROM j)
        |SELECT j.event_type, j.hr, j.cnt,
        |       round(rc::DOUBLE * cc::DOUBLE / n::DOUBLE, 6) AS exp_cnt,
        |       round((j.cnt::DOUBLE - rc::DOUBLE * cc::DOUBLE / n::DOUBLE)
        |             * (j.cnt::DOUBLE - rc::DOUBLE * cc::DOUBLE / n::DOUBLE)
        |             / (rc::DOUBLE * cc::DOUBLE / n::DOUBLE), 6) AS chi2_term,
        |       round((j.cnt::DOUBLE / n::DOUBLE)
        |             * ln(j.cnt::DOUBLE * n::DOUBLE
        |                  / (rc::DOUBLE * cc::DOUBLE)), 6) AS mi_term
        |FROM j
        |JOIN rm ON j.event_type = rm.event_type
        |JOIN cm ON j.hr = cm.hr
        |CROSS JOIN nn""".stripMargin,

    // exact integer moments (DuckDB sums int128 natively — matching the
    // Spark side's decimal(38,0) widening), double math in the same
    // literal order
    "rel_correlation_matrix" ->
      """WITH u AS (
        |  SELECT floor(l_quantity * 1 + 0.5)::BIGINT AS q,
        |         floor(l_extendedprice * 100 + 0.5)::BIGINT AS p,
        |         floor(l_discount * 100 + 0.5)::BIGINT AS d,
        |         floor(l_tax * 100 + 0.5)::BIGINT AS t
        |  FROM lineitem
        |), a AS (
        |  SELECT count(*)::BIGINT AS n,
        |         sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d, sum(t) AS s_t,
        |         sum(q * q) AS s_qq, sum(p * p) AS s_pp,
        |         sum(d * d) AS s_dd, sum(t * t) AS s_tt,
        |         sum(q * p) AS s_qp, sum(q * d) AS s_qd,
        |         sum(q * t) AS s_qt, sum(p * d) AS s_pd,
        |         sum(p * t) AS s_pt, sum(d * t) AS s_dt
        |  FROM u
        |)
        |SELECT n, col_a, col_b,
        |       round((n::DOUBLE * sab - sa * sb)
        |             / (sqrt(n::DOUBLE * saa - sa * sa)
        |                * sqrt(n::DOUBLE * sbb - sb * sb)), 6) AS corr
        |FROM (
        |  SELECT n, 'quantity' AS col_a, 'extendedprice' AS col_b,
        |         s_qp::DOUBLE AS sab, s_q::DOUBLE AS sa, s_p::DOUBLE AS sb,
        |         s_qq::DOUBLE AS saa, s_pp::DOUBLE AS sbb FROM a
        |  UNION ALL
        |  SELECT n, 'quantity', 'discount', s_qd::DOUBLE, s_q::DOUBLE,
        |         s_d::DOUBLE, s_qq::DOUBLE, s_dd::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'quantity', 'tax', s_qt::DOUBLE, s_q::DOUBLE,
        |         s_t::DOUBLE, s_qq::DOUBLE, s_tt::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'extendedprice', 'discount', s_pd::DOUBLE, s_p::DOUBLE,
        |         s_d::DOUBLE, s_pp::DOUBLE, s_dd::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'extendedprice', 'tax', s_pt::DOUBLE, s_p::DOUBLE,
        |         s_t::DOUBLE, s_pp::DOUBLE, s_tt::DOUBLE FROM a
        |  UNION ALL
        |  SELECT n, 'discount', 'tax', s_dt::DOUBLE, s_d::DOUBLE,
        |         s_t::DOUBLE, s_dd::DOUBLE, s_tt::DOUBLE FROM a
        |)""".stripMargin,

    "rel_benford_profile" ->
      """WITH d AS (
        |  SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::BIGINT
        |           AS digit,
        |         count(*)::BIGINT AS n
        |  FROM orders GROUP BY 1
        |), t AS (SELECT sum(n)::BIGINT AS total FROM d)
        |SELECT digit, n,
        |       round(n::DOUBLE / total::DOUBLE, 6) AS obs_p,
        |       round(log10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE), 6)
        |         AS exp_p,
        |       round(n::DOUBLE / total::DOUBLE
        |             - log10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE), 6)
        |         AS dev
        |FROM d CROSS JOIN t""".stripMargin,

    "rel_q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin,

    "rel_q9_profit" ->
      """WITH ps AS (SELECT l_partkey AS ps_partkey,
        |                   l_suppkey AS ps_suppkey,
        |                   min(l_extendedprice) AS ps_supplycost
        |            FROM lineitem GROUP BY 1, 2)
        |SELECT n_name, year(o_orderdate) AS o_year,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                 (cast(1 AS decimal(18,2)) -
        |                  cast(l_discount AS decimal(18,2))) -
        |                 cast(ps_supplycost AS decimal(18,2)) *
        |                 cast(l_quantity AS decimal(18,2)))
        |            AS decimal(18,4)) AS double) AS profit
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN ps       ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "rel_q10_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                (cast(1 AS decimal(18,2)) -
        |                 cast(l_discount AS decimal(18,2))))
        |            AS decimal(18,4)) AS double) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "rel_q14_promo" ->
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |         cast(cast(sum(CASE WHEN p_type = 'PROMO'
        |                 THEN cast(l_extendedprice AS decimal(18,2)) *
        |                      (cast(1 AS decimal(18,2)) -
        |                       cast(l_discount AS decimal(18,2)))
        |                 ELSE cast(0 AS decimal(18,2)) END)
        |              AS decimal(18,4)) AS double) AS promo_rev,
        |         cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |                  (cast(1 AS decimal(18,2)) -
        |                   cast(l_discount AS decimal(18,2))))
        |              AS decimal(18,4)) AS double) AS total_rev,
        |         count(*) AS n_lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |)
        |SELECT month,
        |       round(100.0 * promo_rev / total_rev, 6) AS promo_pct,
        |       promo_rev, total_rev, n_lines
        |FROM m""".stripMargin,

    "rel_q8_market_share" ->
      """WITH v AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         cast(l_extendedprice AS decimal(18,2)) *
        |         (cast(1 AS decimal(18,2)) -
        |          cast(l_discount AS decimal(18,2))) AS rev,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |)
        |SELECT o_year,
        |       round(cast(cast(sum(CASE WHEN supp_nation = 'NATION_7'
        |                   THEN rev ELSE cast(0 AS decimal(18,2)) END)
        |              AS decimal(18,4)) AS double) /
        |             cast(cast(sum(rev) AS decimal(18,4)) AS double), 6)
        |         AS mkt_share,
        |       cast(cast(sum(rev) AS decimal(18,4)) AS double)
        |         AS total_rev,
        |       count(*) AS n_lines
        |FROM v GROUP BY 1""".stripMargin,

    "rel_q11_important_parts" ->
      """WITH pv AS (
        |  SELECT l_partkey AS partkey,
        |         sum(cast(l_extendedprice AS decimal(18,2))) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  GROUP BY 1
        |), t AS (SELECT sum(value) AS total FROM pv)
        |SELECT partkey,
        |       cast(cast(value AS decimal(18,4)) AS double) AS value
        |FROM pv CROSS JOIN t
        |WHERE value * 1000 > total""".stripMargin,

    "rel_q12_priority_class" ->
      """SELECT l_linestatus,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS high_line_count,
        |       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT)
        |         AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    "rel_q13_order_dist" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderdate >= TIMESTAMP '1999-01-01'
        |    AND o_orderdate <  TIMESTAMP '2000-01-01'
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY 1""".stripMargin,

    "rel_q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |       cast(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "rel_q17_small_qty" ->
      """WITH pl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'
        |), pa AS (
        |  SELECT l_partkey AS a_partkey,
        |         cast(0.2 AS DOUBLE) * avg(l_quantity) AS qty_thresh
        |  FROM pl GROUP BY 1
        |)
        |SELECT round(cast(cast(sum(cast(l_extendedprice
        |                  AS decimal(18,2))) AS decimal(18,4)) AS double)
        |             / cast(7.0 AS DOUBLE), 6) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM pl JOIN pa ON l_partkey = a_partkey
        |WHERE l_quantity < qty_thresh""".stripMargin,

    "rel_q19_disjunctive" ->
      """SELECT cast(cast(sum(cast(l_extendedprice AS decimal(18,2)) *
        |            (cast(1 AS decimal(18,2)) -
        |             cast(l_discount AS decimal(18,2))))
        |        AS decimal(18,4)) AS double) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "rel_q21_waiting_supplier" ->
      """WITH lf AS (
        |  SELECT l_orderkey, l_suppkey,
        |         CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY
        |              THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), po AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS ns,
        |         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
        |           AS nls,
        |         max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        |  FROM lf GROUP BY 1
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE ns > 1 AND nls = 1
        |GROUP BY 1""".stripMargin,

    "rel_q22_idle_rich" ->
      """WITH pool AS (
        |  SELECT c_custkey, c_nationkey,
        |         cast(c_acctbal AS decimal(18,2)) AS bal
        |  FROM customer WHERE c_nationkey IN (3, 8, 13, 18, 23)
        |), thresh AS (
        |  SELECT sum(bal) AS pos_total, count(*) AS pos_n
        |  FROM pool WHERE bal > 0
        |)
        |SELECT c_nationkey, count(*) AS numcust,
        |       cast(sum(bal) AS double) AS totacctbal
        |FROM pool CROSS JOIN thresh
        |WHERE bal * pos_n > pos_total
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin,

    "rel_q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(cast(l_extendedprice AS decimal(18,2)) *
        |             (cast(1 AS decimal(18,2)) -
        |              cast(l_discount AS decimal(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY 1
        |), m AS (SELECT max(total_rev) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name,
        |       cast(cast(total_rev AS decimal(18,4)) AS double)
        |         AS total_revenue
        |FROM rev JOIN supplier ON supplier_no = s_suppkey
        |CROSS JOIN m
        |WHERE total_rev = max_rev""".stripMargin,

    "rel_q20_excess_suppliers" ->
      """WITH sq AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1999-01-01'
        |  GROUP BY 1, 2
        |), pt AS (
        |  SELECT l_partkey AS t_partkey, sum(supp_qty) AS part_qty
        |  FROM sq GROUP BY 1
        |)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM sq
        |JOIN pt ON l_partkey = t_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE supp_qty * 2 > part_qty""".stripMargin,

    "rel_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |       round(median(value) OVER (PARTITION BY user_id
        |                  ORDER BY ts_us, event_id
        |                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |             6) AS rmed
        |FROM e""".stripMargin,

    "rel_basket_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders
        |         FROM items),
        |pc AS (SELECT l_partkey, count(*) AS supp FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |         count(*) AS cnt
        |  FROM items x JOIN items y ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT part_a, part_b, cnt,
        |       round(cast(cnt * n_orders AS DOUBLE) /
        |             cast(pa.supp * pb.supp AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN pc pa ON part_a = pa.l_partkey
        |JOIN pc pb ON part_b = pb.l_partkey
        |CROSS JOIN n
        |ORDER BY cnt DESC, part_a, part_b LIMIT 100""".stripMargin,

    "rel_cusum_hourly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (SELECT sum(cnt) AS total, count(*) AS n FROM h),
        |r AS (
        |  SELECT hr, cnt,
        |         sum(cnt) OVER (ORDER BY hr) AS run,
        |         row_number() OVER (ORDER BY hr) AS rn
        |  FROM h
        |)
        |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |       cast(cnt AS BIGINT) AS cnt,
        |       round(run - rn * (cast(total AS DOUBLE) / n), 6) AS cusum
        |FROM r CROSS JOIN t""".stripMargin,

    "rel_ks_test" ->
      """WITH s AS (
        |  SELECT value AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS ga
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), d AS (
        |  SELECT v, sum(ga) AS na, count(*) AS n FROM s GROUP BY 1
        |), t AS (
        |  SELECT sum(na) AS n1, sum(n) - sum(na) AS n2 FROM d
        |), r AS (
        |  SELECT v, sum(na) OVER (ORDER BY v) AS cum_a,
        |         sum(n) OVER (ORDER BY v) AS cum_n
        |  FROM d
        |), m AS (
        |  SELECT max(abs(CAST(n2 AS HUGEINT) * cum_a -
        |                 CAST(n1 AS HUGEINT) * (cum_n - cum_a)))
        |           AS dnum
        |  FROM r CROSS JOIN t
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       round(CAST(dnum AS DOUBLE) /
        |             (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |         AS ks_d,
        |       round(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
        |                  (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |             CAST(dnum AS DOUBLE) /
        |             (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
        |         AS ks_stat
        |FROM m CROSS JOIN t""".stripMargin,

    "rel_survival_curve" ->
      """WITH b AS (
        |  SELECT user_id, min(epoch_us(ts)) AS bt FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), dth AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS dt
        |  FROM events e JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'error' AND epoch_us(e.ts) >= b.bt
        |  GROUP BY 1
        |), mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |u AS (
        |  SELECT CASE WHEN dt IS NOT NULL THEN (dt - bt) // 86400000000
        |              ELSE (m - bt) // 86400000000 END AS dur,
        |         CASE WHEN dt IS NOT NULL THEN 1 ELSE 0 END AS evf
        |  FROM b LEFT JOIN dth ON b.user_id = dth.user_id CROSS JOIN mx
        |), g AS (
        |  SELECT dur, sum(evf) AS d, count(*) - sum(evf) AS c
        |  FROM u GROUP BY 1
        |), t AS (SELECT count(*) AS total FROM u),
        |r AS (
        |  SELECT dur, d, c,
        |         total - sum(d + c) OVER (ORDER BY dur) + (d + c)
        |           AS n_risk
        |  FROM g CROSS JOIN t
        |), tl AS (
        |  SELECT dur, d, c, n_risk,
        |         CASE WHEN d < n_risk THEN CAST(round(
        |                ln(1 - d / CAST(n_risk AS DOUBLE)) * 1000000,
        |                0) AS BIGINT)
        |              ELSE -10000000000 END AS term
        |  FROM r
        |)
        |SELECT dur AS dur_day, CAST(n_risk AS BIGINT) AS n_risk,
        |       CAST(d AS BIGINT) AS deaths, CAST(c AS BIGINT) AS censored,
        |       round(exp(sum(term) OVER (ORDER BY dur) / 1e6), 6)
        |         AS surv
        |FROM tl""".stripMargin,

    "rel_label_propagation" ->
      """WITH half AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), edges AS (
        |  SELECT a, b FROM half UNION ALL SELECT b, a FROM half
        |), l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges),
        |g1 AS (
        |  SELECT e.b AS node, l.lbl, count(*) AS cnt
        |  FROM l0 l JOIN edges e ON l.node = e.a GROUP BY 1, 2
        |), l1 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl ASC) AS rn FROM g1) WHERE rn = 1
        |), g2 AS (
        |  SELECT e.b AS node, l.lbl, count(*) AS cnt
        |  FROM l1 l JOIN edges e ON l.node = e.a GROUP BY 1, 2
        |), l2 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl ASC) AS rn FROM g2) WHERE rn = 1
        |), g3 AS (
        |  SELECT e.b AS node, l.lbl, count(*) AS cnt
        |  FROM l2 l JOIN edges e ON l.node = e.a GROUP BY 1, 2
        |), l3 AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl ASC) AS rn FROM g3) WHERE rn = 1
        |)
        |SELECT lbl AS community, count(*) AS size
        |FROM l3 GROUP BY 1""".stripMargin,

    // the identical peel as a recursive CTE: each iteration keeps the
    // edges whose BOTH endpoints have degree >= k in the current set
    // (symmetric list: PARTITION BY a and PARTITION BY b are the two
    // endpoint degrees). Capped at the same 30-round budget as the
    // Spark loop; by round 30 the set is stable, so `it = 30` IS the
    // fixpoint (deletion-order independence makes both engines land on
    // the same subgraph)
    "rel_kcore" ->
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), prs AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM items x JOIN items y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), edges AS (
        |  SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs
        |), peel2(it, a, b) AS (
        |  SELECT 0, a, b FROM edges
        |  UNION ALL
        |  SELECT it + 1, a, b FROM (
        |    SELECT it, a, b,
        |           count(*) OVER (PARTITION BY a) AS da,
        |           count(*) OVER (PARTITION BY b) AS db
        |    FROM peel2) WHERE it < 30 AND da >= 2 AND db >= 2
        |), peel3(it, a, b) AS (
        |  SELECT 0, a, b FROM edges
        |  UNION ALL
        |  SELECT it + 1, a, b FROM (
        |    SELECT it, a, b,
        |           count(*) OVER (PARTITION BY a) AS da,
        |           count(*) OVER (PARTITION BY b) AS db
        |    FROM peel3) WHERE it < 30 AND da >= 3 AND db >= 3
        |)
        |SELECT 2::BIGINT AS k, a AS vertex, count(*)::BIGINT AS core_deg
        |FROM peel2 WHERE it = 30 GROUP BY 2
        |UNION ALL
        |SELECT 3::BIGINT, a, count(*)::BIGINT
        |FROM peel3 WHERE it = 30 GROUP BY 2""".stripMargin,

    // identical peel replay per rung (deletion-order independence makes
    // both engines land on the same subgraphs); coreness = the highest
    // rung whose fixpoint still contains the vertex, capped at 4
    "rel_coreness" ->
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), prs AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM items x JOIN items y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), edges AS (
        |  SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs
        |), peel2(it, a, b) AS (
        |  SELECT 0, a, b FROM edges
        |  UNION ALL
        |  SELECT it + 1, a, b FROM (
        |    SELECT it, a, b,
        |           count(*) OVER (PARTITION BY a) AS da,
        |           count(*) OVER (PARTITION BY b) AS db
        |    FROM peel2) WHERE it < 30 AND da >= 2 AND db >= 2
        |), peel3(it, a, b) AS (
        |  SELECT 0, a, b FROM edges
        |  UNION ALL
        |  SELECT it + 1, a, b FROM (
        |    SELECT it, a, b,
        |           count(*) OVER (PARTITION BY a) AS da,
        |           count(*) OVER (PARTITION BY b) AS db
        |    FROM peel3) WHERE it < 30 AND da >= 3 AND db >= 3
        |), peel4(it, a, b) AS (
        |  SELECT 0, a, b FROM edges
        |  UNION ALL
        |  SELECT it + 1, a, b FROM (
        |    SELECT it, a, b,
        |           count(*) OVER (PARTITION BY a) AS da,
        |           count(*) OVER (PARTITION BY b) AS db
        |    FROM peel4) WHERE it < 30 AND da >= 4 AND db >= 4
        |), v1 AS (SELECT DISTINCT a FROM edges),
        |v2 AS (SELECT DISTINCT a FROM peel2 WHERE it = 30),
        |v3 AS (SELECT DISTINCT a FROM peel3 WHERE it = 30),
        |v4 AS (SELECT DISTINCT a FROM peel4 WHERE it = 30)
        |SELECT v1.a AS vertex,
        |       (CASE WHEN v4.a IS NOT NULL THEN 4
        |             WHEN v3.a IS NOT NULL THEN 3
        |             WHEN v2.a IS NOT NULL THEN 2
        |             ELSE 1 END)::BIGINT AS coreness
        |FROM v1
        |LEFT JOIN v2 ON v1.a = v2.a
        |LEFT JOIN v3 ON v1.a = v3.a
        |LEFT JOIN v4 ON v1.a = v4.a""".stripMargin,

    // identical bulk truss peel, unrolled: each round recounts per-edge
    // triangle support (wedge join against the symmetric closure) and
    // keeps support >= k-2; 8 rounds cover the engine's loud budget, and
    // a 9th support pass reads out the fixpoint's values. Every round
    // CTE is MATERIALIZED: the support join references its predecessor
    // three times, and DuckDB's default CTE inlining would otherwise
    // re-expand the whole chain per reference (3^8 base scans — found as
    // an fd exhaustion before it could even be slow)
    "rel_ktruss" -> {
      def rounds(k: Int, r: Int): String = (1 to r).map { i =>
        val p = s"t${k}_${i - 1}"
        s"""s${k}_$i AS MATERIALIZED (
           |  SELECT a, b FROM $p UNION ALL SELECT b, a FROM $p),
           |tri${k}_$i AS MATERIALIZED (
           |  SELECT e.a, e.b, count(*) AS sup
           |  FROM $p e JOIN s${k}_$i x ON x.a = e.a
           |  JOIN s${k}_$i y ON y.a = e.b AND y.b = x.b
           |  GROUP BY 1, 2),
           |t${k}_$i AS MATERIALIZED (
           |  SELECT e.a, e.b FROM $p e
           |  JOIN tri${k}_$i t
           |    ON e.a = t.a AND e.b = t.b AND t.sup >= ${k - 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         |), prs AS MATERIALIZED (
         |  SELECT x.l_partkey AS a, y.l_partkey AS b
         |  FROM items x JOIN items y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |), t3_0 AS MATERIALIZED (SELECT a, b FROM prs),
         |t4_0 AS MATERIALIZED (SELECT a, b FROM prs),
         |${rounds(3, 9)},
         |${rounds(4, 9)}
         |SELECT 3::BIGINT AS k, e.a, e.b, t.sup::BIGINT AS support
         |FROM t3_8 e JOIN tri3_9 t ON e.a = t.a AND e.b = t.b
         |UNION ALL
         |SELECT 4::BIGINT, e.a, e.b, t.sup::BIGINT
         |FROM t4_8 e JOIN tri4_9 t ON e.a = t.a AND e.b = t.b""".stripMargin
    },

    "emb_mrl_recall" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, pos, vx AS qx FROM v WHERE vec_id < 20
         |), p AS (
         |  SELECT q.qid, v.vec_id,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot_f,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)) AS aa_f,
         |    sum(CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS bb_f,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)
         |        ELSE 0 END) AS dot_p,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)
         |        ELSE 0 END) AS aa_p,
         |    sum(CASE WHEN v.pos <= 16 THEN
         |          CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)
         |        ELSE 0 END) AS bb_p
         |  FROM v JOIN q ON v.pos = q.pos AND v.vec_id <> q.qid
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(dot_f / (sqrt(aa_f) * sqrt(bb_f)), 6) DESC,
         |      vec_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      round(dot_p / (sqrt(aa_p) * sqrt(bb_p)), 6) DESC,
         |      vec_id ASC) AS rp
         |  FROM p
         |)
         |SELECT qid, sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1
         |                ELSE 0 END) / 10.0 AS recall
         |FROM r GROUP BY 1""".stripMargin,

    "stream_quantile_sketch" ->
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
        |FROM c GROUP BY 1, 2""".stripMargin,

    "rel_rfm_segments" ->
      """WITH base AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |         count(*) AS freq,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS cents
        |  FROM orders GROUP BY 1
        |), mx AS (SELECT max(last_d) AS mxd FROM base),
        |s AS (
        |  SELECT o_custkey, cents,
        |    ntile(5) OVER (ORDER BY date_diff('day', last_d, mxd),
        |                   o_custkey) AS r_score,
        |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
        |    ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
        |  FROM base CROSS JOIN mx
        |)
        |SELECT r_score, f_score, m_score,
        |       count(*) AS customers,
        |       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS revenue
        |FROM s GROUP BY 1, 2, 3""".stripMargin,

    "rel_cohort_ltv" ->
      """WITH su AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cd
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), sizes AS (SELECT cd, count(*) AS users FROM su GROUP BY 1),
        |p AS (
        |  SELECT s.cd,
        |         date_diff('day', s.cd, CAST(e.ts AS DATE)) AS age_day,
        |         sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS dcents
        |  FROM events e JOIN su s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |), c AS (
        |  SELECT cd, age_day,
        |         sum(dcents) OVER (PARTITION BY cd ORDER BY age_day)
        |           AS cum_cents
        |  FROM p
        |)
        |SELECT strftime(c.cd, '%Y-%m-%d') AS cohort,
        |       CAST(age_day AS BIGINT) AS age_day,
        |       CAST(users AS BIGINT) AS users,
        |       round(CAST(cum_cents AS DOUBLE) / 100.0 / users, 6)
        |         AS ltv
        |FROM c JOIN sizes ON c.cd = sizes.cd""".stripMargin,

    "rel_seasonal_anomaly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT hour(hr) AS hod, count(*) AS n, sum(cnt) AS sx,
        |         sum(CAST(cnt AS HUGEINT) * cnt) AS sxx
        |  FROM h GROUP BY 1
        |), z AS (
        |  SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |         CAST(b.hod AS BIGINT) AS hod, cnt,
        |         round(CASE WHEN
        |             CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |             (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |             (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0
        |           THEN (CAST(cnt AS DOUBLE) -
        |                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |                sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |                     (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                     (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |           END, 6) AS z
        |  FROM h JOIN b ON hour(h.hr) = b.hod
        |)
        |SELECT hour, hod, CAST(cnt AS BIGINT) AS cnt, z,
        |       CAST(abs(z) >= 2.0 AS BIGINT) AS is_anomaly
        |FROM z""".stripMargin,

    "rel_changepoint_hourly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1
        |), t AS (SELECT sum(cnt) AS total, count(*) AS n FROM h),
        |r AS (
        |  SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |         sum(cnt) OVER (ORDER BY hr) AS run,
        |         row_number() OVER (ORDER BY hr) AS rn,
        |         total, n
        |  FROM h CROSS JOIN t
        |), d AS (
        |  SELECT hour, run, rn, total, n,
        |         abs(CAST(run AS HUGEINT) * n -
        |             CAST(rn AS HUGEINT) * total) AS dev
        |  FROM r
        |)
        |SELECT hour,
        |       round(CAST(dev AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |         AS cusum_abs,
        |       round(CAST(run AS DOUBLE) / CAST(rn AS DOUBLE), 6)
        |         AS mean_before,
        |       round(CASE WHEN n > rn THEN
        |           CAST(total - run AS DOUBLE) / CAST(n - rn AS DOUBLE)
        |         END, 6) AS mean_after,
        |       round(CASE WHEN n > rn THEN
        |           CAST(total - run AS DOUBLE) / CAST(n - rn AS DOUBLE) -
        |           CAST(run AS DOUBLE) / CAST(rn AS DOUBLE)
        |         END, 6) AS shift
        |FROM d ORDER BY dev DESC, rn ASC LIMIT 1""".stripMargin,

    "stream_hll_distinct" ->
      """SELECT event_type, cast(1 AS bigint) AS within_10pct
        |FROM events GROUP BY event_type""".stripMargin,

    "text_keyword_topk" ->
      s"""WITH tk AS (
         |  SELECT doc_id, token, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |    FROM documents) GROUP BY 1, 2
         |), dfs AS (
         |  SELECT token, count(*) AS df FROM tk GROUP BY 1
         |), n AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT doc_id, token,
         |         round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6)
         |           AS score
         |  FROM tk JOIN dfs USING (token) CROSS JOIN n
         |), r AS (
         |  SELECT doc_id, token, score,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY score DESC, token ASC) AS rank
         |  FROM s
         |)
         |SELECT doc_id, rank, token, score FROM r
         |WHERE rank <= 3""".stripMargin,

    "media_audio_dedup" ->
      """WITH k AS (SELECT doc_id, doc_id % 40 AS k FROM documents)
        |SELECT md5(concat_ws(',', 16 + k % 8, k + 1)) AS content_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM k GROUP BY 1""".stripMargin,

    "emb_hamming_recall" ->
      s"""WITH $embUnnestCte,
         |codes AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN vx > 0 AND pos <= 32
         |                  THEN (1::BIGINT << (32 - pos))
         |                  ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN vx > 0 AND pos > 32
         |                  THEN (1::BIGINT << (64 - pos))
         |                  ELSE 0 END) AS BIGINT) AS hi
         |  FROM v GROUP BY 1
         |), q AS (
         |  SELECT vec_id AS qid, pos, vx AS qx FROM v WHERE vec_id < 20
         |), p AS (
         |  SELECT q.qid, v.vec_id,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS dot_f,
         |    sum(CAST(v.vx AS DOUBLE) * CAST(v.vx AS DOUBLE)) AS aa_f,
         |    sum(CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE)) AS bb_f
         |  FROM v JOIN q ON v.pos = q.pos AND v.vec_id <> q.qid
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT p.qid, p.vec_id,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      round(dot_f / (sqrt(aa_f) * sqrt(bb_f)), 6) DESC,
         |      p.vec_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      bit_count(xor(c.lo, cq.lo)) + bit_count(xor(c.hi, cq.hi))
         |        ASC, p.vec_id ASC) AS rh
         |  FROM p JOIN codes c ON p.vec_id = c.vec_id
         |         JOIN codes cq ON p.qid = cq.vec_id
         |)
         |SELECT qid, sum(CASE WHEN rf <= 10 AND rh <= 10 THEN 1
         |                ELSE 0 END) / 10.0 AS recall
         |FROM r GROUP BY 1""".stripMargin,

    "rel_welch_ttest" ->
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n1,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS n2,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS s1,
        |    sum(CASE WHEN event_type = 'click'
        |             THEN CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS s2,
        |    sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(CAST(round(value * 100, 0) AS BIGINT)
        |                  AS HUGEINT) *
        |                  CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS q1,
        |    sum(CASE WHEN event_type = 'click'
        |             THEN CAST(CAST(round(value * 100, 0) AS BIGINT)
        |                  AS HUGEINT) *
        |                  CAST(round(value * 100, 0) AS BIGINT)
        |             ELSE 0 END) AS q2
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), f AS (
        |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |    CAST(s1 AS DOUBLE) / 100.0 / CAST(n1 AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / 100.0 / CAST(n2 AS DOUBLE) AS m2,
        |    (CAST(q1 AS DOUBLE) / 10000.0 -
        |     (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0)
        |       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
        |      / CAST(n1 AS DOUBLE) AS se1,
        |    (CAST(q2 AS DOUBLE) / 10000.0 -
        |     (CAST(s2 AS DOUBLE) / 100.0) * (CAST(s2 AS DOUBLE) / 100.0)
        |       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
        |      / CAST(n2 AS DOUBLE) AS se2
        |  FROM a
        |)
        |SELECT n1, n2, round(m1 - m2, 6) AS mean_diff,
        |       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
        |       round((se1 + se2) * (se1 + se2) /
        |             (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0) +
        |              se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 2) AS df
        |FROM f""".stripMargin,

    "rel_jackknife_mean" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS nd,
        |         sum(CAST(round(value * 100, 0) AS BIGINT)) AS sd
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), t AS (SELECT sum(nd) AS n, sum(sd) AS s FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |       CAST(nd AS BIGINT) AS nd,
        |       round(CAST(s - sd AS DOUBLE) / 100.0 /
        |             CAST(n - nd AS DOUBLE), 6) AS mean_loo,
        |       round(CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) -
        |             CAST(s - sd AS DOUBLE) / 100.0 /
        |             CAST(n - nd AS DOUBLE), 6) AS influence
        |FROM d CROSS JOIN t""".stripMargin,

    "rel_snaive_backtest" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), l AS (
        |  SELECT event_type, cnt,
        |         lag(cnt, 24) OVER (PARTITION BY event_type
        |                            ORDER BY hr) AS fc
        |  FROM h
        |), e AS (
        |  SELECT event_type, cnt - fc AS e FROM l WHERE fc IS NOT NULL
        |)
        |SELECT event_type, count(*) AS n,
        |       round(CAST(sum(abs(e)) AS DOUBLE) /
        |             CAST(count(*) AS DOUBLE), 6) AS mae,
        |       round(sqrt(CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) /
        |             CAST(count(*) AS DOUBLE)), 6) AS rmse
        |FROM e GROUP BY 1""".stripMargin,

    "rel_psi_drift" ->
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
        |FROM terms GROUP BY 1, 2""".stripMargin,

    "rel_spearman_corr" ->
      """WITH li AS (
        |  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem
        |), rx AS (
        |  SELECT v AS x, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1
        |           AS r2x
        |  FROM (SELECT x AS v, count(*) AS cnt FROM li GROUP BY 1)
        |), ry AS (
        |  SELECT v AS y, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1
        |           AS r2y
        |  FROM (SELECT y AS v, count(*) AS cnt FROM li GROUP BY 1)
        |), m AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(r2x AS HUGEINT)) AS sx,
        |         sum(CAST(r2y AS HUGEINT)) AS sy,
        |         sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |         sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
        |         sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
        |  FROM li JOIN rx USING (x) JOIN ry USING (y)
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |                  (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |             6) AS spearman
        |FROM m""".stripMargin,

    "rel_anova_f" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS ng,
        |         sum(CAST(round(value * 100, 0) AS BIGINT)) AS sg,
        |         sum(CAST(CAST(round(value * 100, 0) AS BIGINT)
        |             AS HUGEINT) *
        |             CAST(round(value * 100, 0) AS BIGINT)) AS qg
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT sum(ng) AS n, sum(sg) AS st, count(*) AS k FROM g
        |), f AS (
        |  SELECT
        |    sum(CAST(round((CAST(sg AS DOUBLE) / 100.0) *
        |        (CAST(sg AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE), 6)
        |        AS DECIMAL(38,6))) AS sb,
        |    sum(CAST(round(CAST(qg AS DOUBLE) / 10000.0 -
        |        (CAST(sg AS DOUBLE) / 100.0) *
        |        (CAST(sg AS DOUBLE) / 100.0) / CAST(ng AS DOUBLE), 6)
        |        AS DECIMAL(38,6))) AS ssw
        |  FROM g
        |)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |       round(CAST(sb AS DOUBLE) -
        |             (CAST(st AS DOUBLE) / 100.0) *
        |             (CAST(st AS DOUBLE) / 100.0) / CAST(n AS DOUBLE),
        |             4) AS ss_between,
        |       round(CAST(ssw AS DOUBLE), 4) AS ss_within,
        |       round(((CAST(sb AS DOUBLE) -
        |               (CAST(st AS DOUBLE) / 100.0) *
        |               (CAST(st AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
        |              / (CAST(k AS DOUBLE) - 1.0)) /
        |             (CAST(ssw AS DOUBLE) /
        |              (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |         AS f_stat
        |FROM f CROSS JOIN t""".stripMargin,

    "rel_cramers_v" ->
      """WITH joint AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS o
        |  FROM customer GROUP BY 1, 2
        |), rm AS (
        |  SELECT c_nationkey, sum(o) AS rt FROM joint GROUP BY 1
        |), cm AS (
        |  SELECT c_mktsegment, sum(o) AS ct FROM joint GROUP BY 1
        |), t AS (
        |  SELECT sum(o) AS n, count(DISTINCT c_nationkey) AS r,
        |         count(DISTINCT c_mktsegment) AS c
        |  FROM joint
        |), s AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |         CAST(c AS BIGINT) AS c,
        |    sum(CAST(round(
        |      (CAST(o AS DOUBLE) -
        |       CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)) *
        |      (CAST(o AS DOUBLE) -
        |       CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)) /
        |      (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
        |       CAST(n AS DOUBLE)), 6) AS DECIMAL(38,6))) AS chi2
        |  FROM joint
        |  JOIN rm USING (c_nationkey) JOIN cm USING (c_mktsegment)
        |  CROSS JOIN t
        |  GROUP BY 1, 2, 3
        |)
        |SELECT n, r, c, round(CAST(chi2 AS DOUBLE), 4) AS chi2,
        |       round(sqrt(CAST(chi2 AS DOUBLE) /
        |             (CAST(n AS DOUBLE) *
        |              CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
        |         AS cramers_v
        |FROM s""".stripMargin,

    "text_bigram_pmi" ->
      s"""WITH t AS (SELECT ${cleanToksSql("text")} AS l FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS cw FROM (
         |    SELECT unnest(l) AS w FROM t) WHERE w <> '' GROUP BY 1
         |), n1 AS (SELECT sum(cw) AS n1 FROM uni),
         |bg AS (
         |  SELECT bigram, count(*) AS cxy FROM (
         |    SELECT unnest(CASE WHEN len(l) >= 2
         |      THEN list_transform(range(1, len(l)),
         |                          i -> l[i] || ' ' || l[i+1])
         |      ELSE [array_to_string(l, ' ')] END) AS bigram
         |    FROM t)
         |  WHERE len(string_split(bigram, ' ')) = 2
         |  GROUP BY 1 HAVING count(*) >= 5
         |)
         |SELECT bigram, cxy,
         |       round(ln((CAST(cxy AS DOUBLE) / CAST(n2 AS DOUBLE)) /
         |             ((CAST(ux.cw AS DOUBLE) / CAST(n1 AS DOUBLE)) *
         |              (CAST(uy.cw AS DOUBLE) / CAST(n1 AS DOUBLE)))),
         |             6) AS pmi
         |FROM bg
         |JOIN uni ux ON ux.w = string_split(bigram, ' ')[1]
         |JOIN uni uy ON uy.w = string_split(bigram, ' ')[2]
         |CROSS JOIN n1
         |CROSS JOIN (SELECT sum(cxy) AS n2 FROM bg) n2
         |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin,

    "stream_psi_drift" ->
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
        |FROM terms GROUP BY 1, 2""".stripMargin,

    "rel_theil_index" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS cents,
        |         any_value(c_nationkey) AS c_nationkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1
        |), g AS (
        |  SELECT c_nationkey, count(*) AS ng, sum(cents) AS xg
        |  FROM rev GROUP BY 1
        |), tot AS (SELECT sum(ng) AS n, sum(xg) AS x FROM g),
        |w AS (
        |  SELECT rev.c_nationkey,
        |         sum(CAST(round(
        |           (CAST(cents AS DOUBLE) /
        |            (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE))) *
        |           ln(CAST(cents AS DOUBLE) /
        |              (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE))),
        |           6) AS DECIMAL(38,6))) AS tsum
        |  FROM rev JOIN g ON rev.c_nationkey = g.c_nationkey
        |  GROUP BY 1
        |)
        |SELECT n_name AS nation, CAST(ng AS BIGINT) AS ng,
        |       round(CAST(xg AS DOUBLE) / CAST(x AS DOUBLE), 6)
        |         AS share,
        |       round(CAST(tsum AS DOUBLE) / CAST(ng AS DOUBLE), 6)
        |         AS theil_within,
        |       round((CAST(ng AS DOUBLE) / CAST(n AS DOUBLE)) *
        |             ((CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)) /
        |              (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) *
        |             ln((CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)) /
        |                (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        |         AS between_term
        |FROM g JOIN w ON g.c_nationkey = w.c_nationkey
        |CROSS JOIN tot
        |JOIN nation ON g.c_nationkey = n_nationkey""".stripMargin,

    "rel_mann_whitney" ->
      """WITH s AS (
        |  SELECT value AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ga
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |), d AS (
        |  SELECT v, sum(ga)::HUGEINT AS na, count(*)::HUGEINT AS n
        |  FROM s GROUP BY v
        |), r AS (
        |  SELECT na, n, sum(n) OVER (ORDER BY v) AS run FROM d
        |), a AS (
        |  SELECT sum(na) AS n1, sum(n - na) AS n2,
        |         sum(na * (2 * run - n + 1)) AS ra2,
        |         sum(n * n * n - n) AS tsum, sum(n) AS nn
        |  FROM r
        |)
        |SELECT cast(n1 AS BIGINT) AS n1, cast(n2 AS BIGINT) AS n2,
        |       cast(ra2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |       round(cast(ra2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE) /
        |             (2.0 * sqrt(cast(n1 AS DOUBLE) * cast(n2 AS DOUBLE)
        |                 / 12.0 *
        |               (cast(nn AS DOUBLE) + 1.0 - cast(tsum AS DOUBLE) /
        |                 (cast(nn AS DOUBLE) *
        |                  (cast(nn AS DOUBLE) - 1.0))))), 6) AS z
        |FROM a""".stripMargin,

    "rel_autocorrelation" ->
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS x
        |  FROM events GROUP BY 1
        |), st AS (
        |  SELECT sum(x)::HUGEINT AS s,
        |         sum(x::HUGEINT * x::HUGEINT) AS sxx,
        |         count(*)::HUGEINT AS nh
        |  FROM h
        |), ks AS (SELECT unnest(generate_series(1, 24)) AS k),
        |p AS (
        |  SELECT ks.k AS k, a.x AS xa, b.x AS xb
        |  FROM h a CROSS JOIN ks CROSS JOIN h b
        |  WHERE b.h = a.h + ks.k
        |), pl AS (
        |  SELECT k, sum(xa::HUGEINT * xb::HUGEINT) AS sab,
        |         sum(xa)::HUGEINT AS sa, sum(xb)::HUGEINT AS sb,
        |         count(*)::HUGEINT AS np
        |  FROM p GROUP BY k
        |)
        |SELECT k, cast(np AS BIGINT) AS n_pairs,
        |       round(cast(nh * nh * sab - nh * s * (sa + sb)
        |                  + np * s * s AS DOUBLE) /
        |             cast(nh * nh * sxx - nh * s * s AS DOUBLE), 6) AS acf
        |FROM pl CROSS JOIN st""".stripMargin,

    "text_token_entropy" ->
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(string_split_regex(
        |           regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
        |           '\s+')) AS token
        |  FROM documents
        |), tc AS (
        |  SELECT lang, token, count(*) AS c
        |  FROM toks WHERE len(token) > 0 GROUP BY 1, 2
        |), hist AS (
        |  SELECT lang, c, count(*) AS m FROM tc GROUP BY 1, 2
        |)
        |SELECT lang,
        |       cast(sum(m * c) AS BIGINT) AS n_tokens,
        |       cast(sum(m) AS BIGINT) AS n_distinct,
        |       round(log2(cast(sum(m * c) AS DOUBLE)) -
        |             cast(sum(cast(round(c * log2(c::DOUBLE), 6)
        |                           AS decimal(28,6)) * m) AS DOUBLE) /
        |             cast(sum(m * c) AS DOUBLE), 6) AS entropy
        |FROM hist GROUP BY lang""".stripMargin,

    "rel_gini_revenue" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |         sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT cents,
        |         row_number() OVER (ORDER BY cents, o_custkey) AS i
        |  FROM c
        |), a AS (
        |  SELECT count(*)::HUGEINT AS n, sum(cents)::HUGEINT AS s,
        |         sum(i::HUGEINT * cents::HUGEINT) AS sic
        |  FROM r
        |)
        |SELECT cast(n AS BIGINT) AS n_customers,
        |       cast(s AS BIGINT) AS total_cents,
        |       round(cast(2 * sic - (n + 1) * s AS DOUBLE) /
        |             cast(n * s AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin,

    "text_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(
        |           regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
        |           '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT token, count(*) AS f
        |  FROM toks WHERE len(token) > 0 GROUP BY 1
        |), xy AS (
        |  SELECT cast(round(log2(cast(row_number()
        |             OVER (ORDER BY f DESC, token) AS DOUBLE)), 6)
        |           AS decimal(12,6)) AS x,
        |         cast(round(log2(f::DOUBLE), 6) AS decimal(12,6)) AS y
        |  FROM tf
        |), a AS (
        |  SELECT count(*) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |         sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy
        |)
        |SELECT cast(n AS BIGINT) AS n_terms,
        |       round((cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) /
        |             (cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)), 6)
        |         AS slope,
        |       round((cast(sy AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sxy AS DOUBLE)) /
        |             (cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |              - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)), 6)
        |         AS intercept,
        |       round(((cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) *
        |              (cast(n AS DOUBLE) * cast(sxy AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))) /
        |             ((cast(n AS DOUBLE) * cast(sxx AS DOUBLE)
        |               - cast(sx AS DOUBLE) * cast(sx AS DOUBLE)) *
        |              (cast(n AS DOUBLE) * cast(syy AS DOUBLE)
        |               - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))), 6)
        |         AS r2
        |FROM a""".stripMargin,

    "rel_hll_intersect_bounded" ->
      """WITH i AS (
        |  SELECT count(*) AS exact_in
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'purchase') a
        |  JOIN (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'click') b USING (user_id)
        |)
        |SELECT exact_in, cast(1 AS BIGINT) AS within_bound
        |FROM i""".stripMargin,

    "rel_stratified_sample" ->
      """SELECT event_id, event_type, user_id
        |FROM events
        |WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100
        |      < CASE WHEN event_type = 'click' THEN 20
        |             WHEN event_type = 'view' THEN 10 ELSE 5 END""".stripMargin,

    // exact-integer priority sampling: identical md5 draw and floor
    // division, so the top-100 sample reproduces bit-for-bit
    "rel_priority_sample" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |)
        |SELECT o_orderkey, w_cents,
        |       cast((w_cents * 4294967296) // h AS bigint) AS priority
        |FROM b
        |ORDER BY priority DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    // same exact-integer draw; τ = the 101st priority, ŵ = max(w, τ)
    "rel_priority_sample_est" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |), p AS (
        |  SELECT o_orderkey, w_cents,
        |         cast((w_cents * 4294967296) // h AS bigint) AS priority
        |  FROM b
        |), t AS (
        |  SELECT o_orderkey, w_cents, priority,
        |         row_number() OVER (ORDER BY priority DESC, o_orderkey)
        |           AS rn
        |  FROM p
        |), tau AS (
        |  -- sub-k guard (DLT): with n <= 100 rows every row is sampled
        |  -- exactly, so tau = 0 and greatest(w, 0) = w
        |  SELECT CASE WHEN count(*) <= 100 THEN cast(0 AS bigint)
        |              ELSE cast(min(priority) AS bigint) END AS tau
        |  FROM t WHERE rn <= 101
        |)
        |SELECT tau.tau,
        |       cast(sum(greatest(w_cents, tau.tau)) AS bigint)
        |           AS est_total,
        |       (SELECT cast(sum(w_cents) AS bigint) FROM b) AS exact_total
        |FROM t, tau WHERE t.rn <= 100
        |GROUP BY tau.tau""".stripMargin,

    // same exact-integer sample per segment; the served weighted
    // quantiles are the HT subset-sum readout over the retained rows
    "rel_weighted_quantile_sample" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS seg, o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS w_cents,
        |         greatest(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |                    ::BIGINT, 1) AS h
        |  FROM orders
        |), p AS (
        |  SELECT seg, o_orderkey, w_cents,
        |         cast((w_cents * 4294967296) // h AS bigint) AS priority
        |  FROM b
        |), t AS (
        |  SELECT *, row_number() OVER (PARTITION BY seg
        |                               ORDER BY priority DESC, o_orderkey)
        |           AS rn
        |  FROM p
        |), tau AS (
        |  SELECT seg, CASE WHEN count(*) <= 256 THEN cast(0 AS bigint)
        |                   ELSE cast(min(priority) AS bigint) END AS tau
        |  FROM t WHERE rn <= 257 GROUP BY 1
        |), r AS (
        |  SELECT t.seg, t.w_cents, t.o_orderkey,
        |         greatest(t.w_cents, tau.tau) AS w_hat
        |  FROM t JOIN tau USING (seg) WHERE t.rn <= 256
        |), c AS (
        |  SELECT seg, w_cents,
        |         sum(w_hat) OVER (PARTITION BY seg
        |                          ORDER BY w_cents, o_orderkey) AS cum,
        |         sum(w_hat) OVER (PARTITION BY seg) AS est_total
        |  FROM r
        |), e AS (
        |  SELECT o_orderpriority AS seg,
        |         cast(sum(cast(round(o_totalprice * 100) AS bigint))
        |              AS bigint) AS exact_total
        |  FROM orders GROUP BY 1
        |)
        |SELECT c.seg, cast(count(*) AS bigint) AS n_kept,
        |       cast(c.est_total AS bigint) AS est_total, e.exact_total,
        |       min(CASE WHEN 2 * cum >= est_total THEN w_cents END)
        |         AS p50w_cents,
        |       min(CASE WHEN 20 * cum >= 19 * est_total THEN w_cents END)
        |         AS p95w_cents
        |FROM c JOIN e USING (seg)
        |GROUP BY c.seg, c.est_total, e.exact_total""".stripMargin,

    // the same sweep as a single-partition SQL window; running values
    // within an identical (t, delta) tie block differ per row but form
    // the same multiset, and only aggregates of them are compared
    "rel_peak_concurrency" ->
      """WITH e AS (SELECT epoch_us(ts) AS t FROM events),
        |d AS (
        |  SELECT t, 1 AS delta FROM e
        |  UNION ALL
        |  SELECT t + 300000000, -1 FROM e
        |),
        |r AS (
        |  SELECT t, sum(delta) OVER (ORDER BY t, delta
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS running
        |  FROM d
        |),
        |m AS (SELECT max(running) AS peak FROM r)
        |SELECT cast(m.peak AS bigint) AS peak,
        |       cast(min(r.t) AS bigint) AS first_t_us
        |FROM r JOIN m ON r.running = m.peak
        |GROUP BY m.peak""".stripMargin,

    "rel_cumulative_users" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
        |),
        |f AS (
        |  SELECT t, event_id,
        |         CASE WHEN row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY t, event_id) = 1
        |              THEN 1 ELSE 0 END AS delta
        |  FROM e
        |)
        |SELECT event_id,
        |       cast(sum(delta) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS cum_users
        |FROM f""".stripMargin,

    "rel_running_revenue" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS cents
        |  FROM orders
        |)
        |SELECT o_orderkey, cents,
        |       cast(sum(cents) OVER (ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS running_cents
        |FROM o""".stripMargin,

    "rel_running_count" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS n_valued
        |FROM e""".stripMargin,

    "rel_running_row_count" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT event_id,
        |       cast(count(*) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS n_events
        |FROM e""".stripMargin,

    "rel_running_high_water" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS high_water
        |FROM e""".stripMargin,

    "rel_running_low_water" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(min(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS low_water
        |FROM e""".stripMargin,

    // round(x, 6) both sides: DuckDB's avg(bigint) sums in hugeint and
    // divides at a different precision than the exact-long-over-long
    // division the scan does — last-ulp noise, not a semantic difference
    "rel_running_avg" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             6) AS avg_v
        |FROM e""".stripMargin,

    "rel_running_watermark" ->
      """SELECT event_id,
        |       epoch_us(max(ts) OVER (ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |         AS hwm_us
        |FROM events""".stripMargin,

    "rel_running_peak_price" ->
      """SELECT o_orderkey, o_totalprice,
        |       max(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS peak_price
        |FROM orders""".stripMargin,

    "rel_running_delta" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v,
        |       v - lag(v, 1) OVER (ORDER BY t, event_id) AS delta
        |FROM e""".stripMargin,

    "rel_next_event_gap" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id FROM events
        |)
        |SELECT event_id,
        |       lead(t, 1) OVER (ORDER BY t, event_id) - t AS gap_us
        |FROM e""".stripMargin,

    "rel_prev_valid_value" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1 IGNORE NULLS) OVER (ORDER BY t, event_id)
        |         AS prev_valid
        |FROM e""".stripMargin,

    "rel_next_valid_value" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lead(v, 1 IGNORE NULLS) OVER (ORDER BY t, event_id)
        |         AS next_valid
        |FROM e""".stripMargin,

    "rel_frame_moving_sum" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_sum,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_n
        |FROM e""".stripMargin,

    "rel_frame_trailing_stats" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(min(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_min,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_max,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e""".stripMargin,

    "rel_frame_mixed_dashboard" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |            AS bigint) AS mov_peak
        |FROM e""".stripMargin,

    "rel_frame_centered_avg" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 50 PRECEDING AND 50 FOLLOWING),
        |             6) AS smooth_v,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 50 PRECEDING AND 50 FOLLOWING)
        |            AS bigint) AS n_ctx
        |FROM e""".stripMargin,

    "rel_range_trailing_global" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s,
        |       cast(max(v) OVER r AS bigint) AS peak_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "rel_range_interval_global" ->
      """WITH e AS (
        |  SELECT ts, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY ts RANGE BETWEEN INTERVAL 5 SECOND
        |             PRECEDING AND CURRENT ROW)""".stripMargin,

    "rel_window_mixed_range" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(rank() OVER (ORDER BY t) AS bigint) AS rnk,
        |       cast(sum(v) OVER (ORDER BY t) AS bigint) AS run_total,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "rel_window_mixed_global" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(row_number() OVER o AS bigint) AS rn,
        |       cast(rank() OVER o AS bigint) AS rnk,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       lag(v, 1) OVER o AS prev_v,
        |       first_value(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS first_v,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e
        |WINDOW o AS (ORDER BY t, event_id)""".stripMargin,

    "rel_window_mixed_full" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(row_number() OVER o AS bigint) AS rn,
        |       cast(rank() OVER o AS bigint) AS rnk,
        |       round(cume_dist() OVER o, 9) AS cd,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       lag(v, 1) OVER o AS prev_v,
        |       lead(v, 1 IGNORE NULLS) OVER o AS next_valid,
        |       first_value(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS first_v,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e
        |WINDOW o AS (ORDER BY t, event_id)""".stripMargin,

    // same md5 arm hash, exact counts, same literal double sequence for
    // the z statistic (all constants DOUBLE-cast)
    "rel_abtest_report" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS cv,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
        |           AS arm
        |  FROM events GROUP BY user_id
        |), a AS (
        |  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |         sum(CASE WHEN arm = 0 THEN cv ELSE 0 END)::BIGINT AS c0,
        |         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |         sum(CASE WHEN arm = 1 THEN cv ELSE 0 END)::BIGINT AS c1
        |  FROM u
        |)
        |SELECT n0, c0, n1, c1,
        |       round(c0::DOUBLE / n0::DOUBLE, 6) AS rate0,
        |       round(c1::DOUBLE / n1::DOUBLE, 6) AS rate1,
        |       round(CASE WHEN sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE)
        |                       - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE) / n0::DOUBLE
        |                       + CAST(1.0 AS DOUBLE) / n1::DOUBLE))
        |                  > CAST(0.0 AS DOUBLE)
        |             THEN (c0::DOUBLE / n0::DOUBLE - c1::DOUBLE / n1::DOUBLE)
        |             / sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE)
        |                       - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE)
        |                    * (CAST(1.0 AS DOUBLE) / n0::DOUBLE
        |                       + CAST(1.0 AS DOUBLE) / n1::DOUBLE))
        |             END, 6) AS z
        |FROM a""".stripMargin,

    "rel_decile_lift" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS score,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS purchaser
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT user_id, purchaser,
        |         ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
        |  FROM u
        |), a AS (
        |  SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_users,
        |         sum(purchaser)::BIGINT AS n_purchasers
        |  FROM d GROUP BY 1
        |)
        |SELECT decile, n_users, n_purchasers,
        |       round(n_purchasers::DOUBLE / n_users, 6) AS conv_rate,
        |       cast(sum(n_purchasers) OVER (ORDER BY decile
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_purchasers
        |FROM a""".stripMargin,

    "rel_range_lagged_total" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id, t,
        |       cast(sum(v) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED
        |              PRECEDING AND 5000000 PRECEDING) AS bigint)
        |         AS lag_total,
        |       count(v) OVER (ORDER BY t RANGE BETWEEN UNBOUNDED
        |              PRECEDING AND 5000000 PRECEDING) AS lag_n
        |FROM e""".stripMargin,

    // the INDEPENDENT quadratic dominance derivation (DuckDB plans the
    // two-inequality NOT EXISTS as an IEJoin) — deliberately NOT the
    // sorted sweep the Spark side runs
    "rel_skyline" ->
      """WITH d AS (
        |  SELECT o_totalprice AS price, epoch_us(o_orderdate) AS odate,
        |         count(*)::BIGINT AS n_orders
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT p.price, p.odate, p.n_orders FROM d p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d q
        |  WHERE q.price >= p.price AND q.odate >= p.odate
        |    AND (q.price > p.price OR q.odate > p.odate))""".stripMargin,

    // independent row_number-over-counts derivation of the same argmax
    "rel_mode_per_group" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, user_id, cnt,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cnt DESC, user_id ASC) AS rn
        |  FROM c
        |)
        |SELECT event_type, cnt AS mode_cnt, user_id AS mode_user
        |FROM r WHERE rn = 1""".stripMargin,

    "rel_hash_chain_global" -> hashChainOracleSql,

    // same sorted per-user list, same literal fold operations — the two
    // engines run identical fp sequences, so the rounded compare is exact
    "rel_ewma_per_user" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |), g AS (
        |  SELECT user_id,
        |         list(cast(v AS double) ORDER BY t, event_id) AS xs
        |  FROM e WHERE v IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id,
        |       round(list_reduce(xs,
        |             (acc, x) -> 0.875::DOUBLE * acc + 0.125::DOUBLE * x),
        |             6) AS ewma,
        |       cast(len(xs) AS bigint) AS n_obs
        |FROM g""".stripMargin,

    "rel_frame_lookahead_peak" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
        |            AS bigint) AS next_peak,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING)
        |            AS bigint) AS next_n
        |FROM e""".stripMargin,

    "rel_frame_price_band" ->
      """SELECT o_orderkey, o_totalprice,
        |       min(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS band_low,
        |       max(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS band_high
        |FROM orders""".stripMargin,

    "rel_running_dashboard" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       cast(count(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_n,
        |       cast(max(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_max
        |FROM e""".stripMargin,

    "rel_running_size" ->
      """SELECT p_partkey, p_size,
        |       cast(sum(p_size) OVER (ORDER BY p_partkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS running_size
        |FROM part""".stripMargin,

    "rel_running_size_floor" ->
      """SELECT p_partkey, p_size,
        |       cast(min(p_size) OVER (ORDER BY p_partkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS integer) AS floor_size
        |FROM part""".stripMargin,

    // no frame clause on either side: both engines resolve it to the
    // default RANGE UNBOUNDED PRECEDING .. CURRENT ROW (peer-inclusive)
    "rel_running_range_total" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |), s AS (
        |  SELECT event_id, cast(floor(t / 1000000) AS bigint) AS sec, v
        |  FROM e
        |)
        |SELECT event_id, sec,
        |       cast(sum(v) OVER (ORDER BY sec) AS bigint) AS cum_total,
        |       cast(count(*) OVER (ORDER BY sec) AS bigint) AS n_thru_sec
        |FROM s""".stripMargin,

    "rel_sample_per_key" ->
      """SELECT event_id, user_id, event_type
        |FROM (
        |  SELECT event_id, user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY md5(event_id::VARCHAR),
        |                                     event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3""".stripMargin,

    "rel_key_skew_profile" ->
      """WITH pu AS (
        |  SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, cast(sum(c) AS bigint) AS n_events,
        |       count(*) AS n_users, max(c) AS max_per_user,
        |       round(avg(c), 6) AS avg_per_user,
        |       round(max(c) / avg(c), 6) AS skew_factor
        |FROM pu GROUP BY 1""".stripMargin,

    "text_domain_mix" ->
      s"""WITH cells AS (
         |  SELECT lang, source, count(*) AS n_docs,
         |         cast(sum(len(${cleanToksSql("text")})) AS bigint)
         |           AS n_tokens
         |  FROM documents GROUP BY 1, 2
         |),
         |z AS (SELECT sum(power(n_tokens, 0.7)) AS z FROM cells)
         |SELECT lang, source, n_docs, n_tokens,
         |       round(power(n_tokens, 0.7) / z, 6) AS mix_weight
         |FROM cells CROSS JOIN z""".stripMargin,

    "emb_quantize" ->
      """WITH x AS (
        |  SELECT vec_id,
        |         list_transform(embedding, v -> cast(v AS double)) AS x
        |  FROM embeddings
        |), m AS (
        |  SELECT vec_id, x,
        |         list_max(list_transform(x, v -> abs(v))) AS mx
        |  FROM x
        |), s AS (
        |  SELECT vec_id, x,
        |         CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END AS scale
        |  FROM m
        |), q AS (
        |  SELECT vec_id, x, scale,
        |         list_transform(x, v ->
        |           greatest(-127, least(127,
        |             cast(floor(v * scale + 0.5) AS bigint)))) AS q
        |  FROM s
        |)
        |SELECT vec_id,
        |       round(scale, 6) AS scale,
        |       cast(len(list_filter(q, v -> abs(v) = 127)) AS bigint)
        |         AS n_sat,
        |       round(list_sum(list_transform(range(1, len(x) + 1), i ->
        |               (x[i] - cast(q[i] AS double) / scale)
        |               * (x[i] - cast(q[i] AS double) / scale)))
        |             / cast(len(x) AS double), 6) AS mse
        |FROM q""".stripMargin,

    "text_split_assign" ->
      """SELECT doc_id,
        |       cast(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |            % 100 AS bigint) AS bucket,
        |       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |                  % 100 < 80 THEN 'train'
        |            WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |                  % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "rel_profile" ->
      """SELECT count(*) AS n_rows,
        |       cast(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |            AS bigint) AS null_flags,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(DISTINCT l_returnflag) AS n_flags,
        |       cast(min(l_quantity) AS double) AS min_qty,
        |       cast(max(l_quantity) AS double) AS max_qty,
        |       cast(epoch_us(min(l_shipdate)) // 1000000 AS bigint)
        |         AS min_ship_s
        |FROM lineitem""".stripMargin,

    "text_bigram_counts" ->
      s"""WITH t AS (SELECT ${cleanToksSql("text")} AS l FROM documents),
         |bg AS (
         |  SELECT unnest(CASE WHEN len(l) >= 2
         |    THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
         |    ELSE [array_to_string(l, ' ')] END) AS bigram
         |  FROM t
         |)
         |SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram""".stripMargin,

    "text_doc_freq" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |)
         |SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf
         |FROM tk GROUP BY token""".stripMargin,

    "text_feature_hashing" ->
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |)
         |SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT % 256 AS bucket,
         |       count(DISTINCT token)::BIGINT AS n_tokens,
         |       count(*)::BIGINT AS tf
         |FROM tk GROUP BY 1""".stripMargin,

    // the rules re-derived in SQL: dup-bigram fraction = 1 - distinct/
    // total, top share = mode count / total, word stats from the token
    // list; token-less docs fall back to zeros and fail the keep gate
    "text_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents
         |), tok AS (
         |  SELECT doc_id, cast(len(l) AS bigint) AS n_words,
         |         round(list_aggregate(list_transform(l, x -> length(x)),
         |                              'sum') * 1.0 / len(l), 6)
         |           AS mean_word_len
         |  FROM t WHERE len(l) > 0
         |), b AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l)),
         |                               i -> l[i] || ' ' || l[i+1])) AS bigram
         |  FROM t WHERE len(l) >= 2
         |), bc AS (
         |  SELECT doc_id, bigram, count(*) AS cnt FROM b
         |  GROUP BY doc_id, bigram
         |), bg AS (
         |  SELECT doc_id,
         |         round(1.0 - count(*) * 1.0 / sum(cnt), 6)
         |           AS dup_bigram_frac,
         |         round(max(cnt) * 1.0 / sum(cnt), 6) AS top_bigram_share
         |  FROM bc GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       coalesce(tok.n_words, 0) AS n_words,
         |       coalesce(tok.mean_word_len, 0.0) AS mean_word_len,
         |       coalesce(bg.dup_bigram_frac, 0.0) AS dup_bigram_frac,
         |       coalesce(bg.top_bigram_share, 0.0) AS top_bigram_share,
         |       cast(coalesce(tok.n_words, 0) BETWEEN 5 AND 10000
         |            AND coalesce(tok.mean_word_len, 0.0) BETWEEN 2.0 AND 12.0
         |            AND coalesce(bg.dup_bigram_frac, 0.0) <= 0.3
         |            AND coalesce(bg.top_bigram_share, 0.0) <= 0.2
         |            AS bigint) AS keep
         |FROM documents d
         |LEFT JOIN tok ON d.doc_id = tok.doc_id
         |LEFT JOIN bg ON d.doc_id = bg.doc_id""".stripMargin,

    "text_contamination" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, ${cleanToksSql("text")} AS l FROM documents
         |), sg AS (
         |  SELECT doc_id, source, unnest(list_distinct($shinglesSql)) AS sh
         |  FROM t
         |), e AS (
         |  SELECT DISTINCT sh, doc_id AS eval_id FROM sg WHERE source = 'src0'
         |), c AS (
         |  SELECT doc_id, sh FROM sg WHERE source <> 'src0'
         |)
         |SELECT doc_id, count(DISTINCT sh) AS n_shared,
         |       count(DISTINCT eval_id) AS n_eval_docs
         |FROM c JOIN e USING (sh)
         |GROUP BY doc_id HAVING count(DISTINCT sh) >= 2""".stripMargin,

    // the model is re-derived from scratch in SQL: real bigrams only
    // (>= 2 tokens), history counts over bigram heads, vocab = distinct
    // tokens across both positions, add-one smoothing, mean ln rounded 6
    "text_lm_score" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |b AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l)),
         |                               i -> l[i] || ' ' || l[i+1])) AS bigram
         |  FROM t WHERE len(l) >= 2
         |), bw AS (
         |  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1,
         |         string_split(bigram, ' ')[2] AS w2
         |  FROM b
         |), c2 AS (SELECT bigram, count(*) AS c2 FROM bw GROUP BY bigram),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bw GROUP BY w1),
         |v AS (
         |  SELECT count(DISTINCT tok) AS v FROM (
         |    SELECT w1 AS tok FROM bw UNION ALL SELECT w2 FROM bw)
         |), sc AS (
         |  SELECT doc_id,
         |         round(avg(ln(cast(c2.c2 + 1 AS double)
         |                      / cast(c1.c1 + v.v AS double))), 6) AS lm_score,
         |         count(*) AS n_bigrams
         |  FROM bw JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(sc.lm_score, 0.0) AS lm_score,
         |       cast(coalesce(sc.n_bigrams, 0) AS bigint) AS n_bigrams
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,

    "emb_maxsim" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS q_id, pos, vx AS qx FROM v
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings
         |                   WHERE label = 0 ORDER BY vec_id LIMIT 4)
         |), d AS (
         |  SELECT v.vec_id, v.label, q.q_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(cast(q.qx AS double) * cast(q.qx AS double)) AS bb
         |  FROM v JOIN q ON v.pos = q.pos
         |  GROUP BY v.vec_id, v.label, q.q_id
         |), m AS (
         |  SELECT label, q_id,
         |         max(round(dot / (sqrt(aa) * sqrt(bb)), 6)) AS best
         |  FROM d GROUP BY label, q_id
         |)
         |SELECT label, round(sum(best), 6) AS maxsim, count(*) AS n_q
         |FROM m GROUP BY label""".stripMargin,

    // probe set derived in SQL exactly as the engine derives it on the
    // driver: base bucket from the query's plane signs, then xor-flip
    // the 3 planes with the smallest |dot| (min plane index on ties)
    "emb_multiprobe_search" ->
      s"""WITH q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), $embUnnestCte,
         |$lcgBucketCtes,
         |qlcg AS (
         |  SELECT p.p,
         |         sum(cast(qx AS double) *
         |             (cast((1103515245 * (p.p * 64 + (pos - 1)) + 12345)
         |                   % 2147483648 AS double) / 2147483648.0 - 0.5))
         |           AS dot
         |  FROM q CROSS JOIN (SELECT range AS p FROM range(8)) p
         |  GROUP BY p.p
         |),
         |qb AS (
         |  SELECT cast(sum(CASE WHEN dot > 0 THEN power(2, p) ELSE 0 END)
         |              AS bigint) AS b
         |  FROM qlcg
         |),
         |fl AS (
         |  SELECT p, row_number() OVER (ORDER BY abs(dot), p) AS rnk
         |  FROM qlcg
         |),
         |probes AS (
         |  SELECT b AS bucket FROM qb
         |  UNION ALL
         |  SELECT xor(qb.b, 1::BIGINT << fl.p) AS bucket
         |  FROM qb, fl WHERE fl.rnk <= 3
         |),
         |cand AS (
         |  SELECT bk.vec_id FROM buckets bk JOIN probes USING (bucket)
         |  WHERE bk.vec_id <> 0
         |),
         |d AS (
         |  SELECT v.vec_id,
         |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
         |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) JOIN cand ON v.vec_id = cand.vec_id
         |  GROUP BY v.vec_id
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |)
         |SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // same per-dimension μ/σ² algebra (E[x²] − E[x]²) re-derived from the
    // unnested data; top-20 with the vec_id tiebreak on the ROUNDED score
    "emb_ood_score" ->
      s"""WITH $embUnnestCte,
         |mu AS (
         |  SELECT pos, sum(cast(vx AS double)) / count(*) AS m,
         |         sum(cast(vx AS double) * cast(vx AS double)) / count(*)
         |           AS exx
         |  FROM v GROUP BY pos
         |),
         |st AS (SELECT pos, m, exx - m * m AS va FROM mu),
         |d AS (
         |  SELECT v.vec_id,
         |         sum((cast(vx AS double) - st.m) *
         |             (cast(vx AS double) - st.m) / st.va) AS score
         |  FROM v JOIN st USING (pos)
         |  GROUP BY v.vec_id
         |)
         |SELECT vec_id, round(score, 6) AS ood FROM d
         |ORDER BY ood DESC, vec_id LIMIT 20""".stripMargin,

    // `+ 0.0` collapses IEEE negative zero: round() can yield -0.0 on one
    // engine and +0.0 on the other for a tiny negative, and the driver's
    // compare stringifies values
    "emb_covariance" ->
      s"""WITH $embUnnestCte,
         |$pcaCovCtes
         |SELECT i, j, round(c, 6) + 0.0 AS cov FROM cov
         |WHERE i <= j""".stripMargin,

    // train-serve consistency: the streaming shard-merged moments must
    // reproduce the batch covariance — same SQL as emb_covariance
    "stream_covariance" ->
      s"""WITH $embUnnestCte,
         |$pcaCovCtes
         |SELECT i, j, round(c, 6) + 0.0 AS cov FROM cov
         |WHERE i <= j""".stripMargin,

    "emb_pca_power" ->
      s"""WITH $embUnnestCte,
         |$pcaCovCtes,
         |${pcaPowerCtes(24, 64)},
         |lam AS (
         |  SELECT sum(cov.c * a.vv * b.vv) AS l
         |  FROM cov JOIN fin a ON cov.i = a.pos JOIN fin b ON cov.j = b.pos
         |)
         |SELECT fin.pos AS pos, round(fin.vv, 6) + 0.0 AS loading,
         |       round(lam.l, 6) + 0.0 AS lambda
         |FROM fin, lam""".stripMargin,

    "emb_pca_project" ->
      s"""WITH $embUnnestCte,
         |$pcaCovCtes,
         |${pcaPowerCtes(24, 64)},
         |mv AS (
         |  SELECT sum(mu.m * fin.vv) AS s
         |  FROM mu JOIN fin ON mu.pos = fin.pos
         |),
         |proj AS (
         |  SELECT a.vec_id, sum(cast(a.vx AS double) * fin.vv) AS xv
         |  FROM v a JOIN fin ON a.pos = fin.pos GROUP BY 1
         |)
         |SELECT vec_id, round(xv - mv.s, 6) + 0.0 AS pc1
         |FROM proj, mv""".stripMargin,

    "emb_knn_cosine" ->
      s"""WITH q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), $embUnnestCte,
         |d AS (
         |  SELECT v.vec_id,
         |         sum(cast(vx AS double) * cast(qx AS double)) AS dot,
         |         sum(cast(vx AS double) * cast(vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |)
         |SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "emb_norm_stats" ->
      s"""WITH $embUnnestCte,
         |n AS (
         |  SELECT vec_id, label,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id, label
         |)
         |SELECT label, count(*) AS cnt,
         |       min(round(norm, 6)) AS min_norm,
         |       max(round(norm, 6)) AS max_norm
         |FROM n GROUP BY label""".stripMargin,

    "emb_centroids" ->
      s"""WITH $embUnnestCte
         |SELECT label, pos, round(avg(cast(vx AS double)), 6) AS m
         |FROM v GROUP BY label, pos""".stripMargin,

    // same rounded-centroid discipline as emb_centroids/PQ: means round
    // to 6 before the cosine, so both engines fold identical values
    "emb_centroid_shift" ->
      s"""WITH $embUnnestCte,
         |h AS (
         |  SELECT label, (vec_id % 2)::BIGINT AS half, pos,
         |         round(avg(cast(vx AS double)), 6) AS m
         |  FROM v GROUP BY 1, 2, 3
         |), cnt AS (
         |  SELECT label, (vec_id % 2)::BIGINT AS half,
         |         count(*)::BIGINT AS n
         |  FROM embeddings GROUP BY 1, 2
         |), d AS (
         |  SELECT a.label,
         |         sum(a.m * b.m) AS dot,
         |         sqrt(sum(a.m * a.m)) AS na,
         |         sqrt(sum(b.m * b.m)) AS nb
         |  FROM h a JOIN h b ON a.label = b.label AND a.pos = b.pos
         |  WHERE a.half = 0 AND b.half = 1
         |  GROUP BY 1
         |)
         |SELECT d.label, ne.n AS n_even, no.n AS n_odd,
         |       round(dot / (na * nb), 6) AS cos_shift
         |FROM d
         |JOIN cnt ne ON d.label = ne.label AND ne.half = 0
         |JOIN cnt no ON d.label = no.label AND no.half = 1""".stripMargin,

    "emb_near_dup_pairs" ->
      s"""WITH $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, label AS blk FROM embeddings),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |)
         |SELECT id1, id2, round(dot / (n1.norm * n2.norm), 6) AS cos
         |FROM d
         |JOIN n n1 ON d.id1 = n1.vec_id
         |JOIN n n2 ON d.id2 = n2.vec_id
         |WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.35""".stripMargin,

    "emb_lsh_buckets" ->
      s"""WITH $embUnnestCte,
         |$lcgBucketCtes
         |SELECT vec_id, bucket FROM buckets""".stripMargin,

    "emb_lsh_near_dup" ->
      s"""WITH $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, bucket AS blk FROM buckets),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |)
         |SELECT id1, id2, round(dot / (n1.norm * n2.norm), 6) AS cos
         |FROM d
         |JOIN n n1 ON d.id1 = n1.vec_id
         |JOIN n n2 ON d.id2 = n2.vec_id
         |WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.3""".stripMargin,

    // queries = vectors 0..2; scores replayed per (query, vector) pair,
    // different-label filter, per-query top-5 with the vec_id tiebreak
    "emb_hard_negatives" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, label AS qlab, pos,
         |         cast(vx AS double) AS qx
         |  FROM v WHERE vec_id < 3
         |),
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT q.qid, q.qlab, v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * q.qx) AS dot
         |  FROM v JOIN q USING (pos)
         |  GROUP BY q.qid, q.qlab, v.vec_id, v.label
         |),
         |sc AS (
         |  SELECT d.qid, d.vec_id,
         |         round(d.dot / (nv.norm * nq.norm), 6) AS cos,
         |         d.label, d.qlab
         |  FROM d
         |  JOIN n nv ON d.vec_id = nv.vec_id
         |  JOIN n nq ON d.qid = nq.vec_id
         |),
         |r AS (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, vec_id) AS rn
         |  FROM sc WHERE label <> qlab AND vec_id <> qid
         |)
         |SELECT qid, vec_id, cos FROM r WHERE rn <= 5""".stripMargin,

    // the emb_lsh_near_dup candidate chain thresholded at 0.4, then the
    // same recursive min-label closure as dedup_connected_components,
    // grouped per label against the canonical (min-id) vector
    "emb_semantic_dedup" ->
      s"""WITH RECURSIVE $embUnnestCte,
         |$lcgBucketXsigCtes,
         |blocks AS (SELECT vec_id, bucket AS blk FROM buckets),
         |${embSaltedPairsCtes(40)},
         |n AS (
         |  SELECT vec_id,
         |         sqrt(sum(cast(vx AS double) * cast(vx AS double))) AS norm
         |  FROM v GROUP BY vec_id
         |),
         |d AS (
         |  SELECT p.id1, p.id2,
         |         sum(cast(v1.vx AS double) * cast(v2.vx AS double)) AS dot
         |  FROM pairs p
         |  JOIN v v1 ON v1.vec_id = p.id1
         |  JOIN v v2 ON v2.vec_id = p.id2 AND v1.pos = v2.pos
         |  GROUP BY p.id1, p.id2
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM d
         |  JOIN n n1 ON d.id1 = n1.vec_id
         |  JOIN n n2 ON d.id2 = n2.vec_id
         |  WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.4
         |  UNION ALL
         |  SELECT id2, id1 FROM d
         |  JOIN n n1 ON d.id1 = n1.vec_id
         |  JOIN n n2 ON d.id2 = n2.vec_id
         |  WHERE round(dot / (n1.norm * n2.norm), 6) >= 0.4
         |),
         |reach AS (
         |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
         |  UNION
         |  SELECT reach.node, e.b AS lab
         |  FROM reach JOIN edges e ON reach.lab = e.a
         |),
         |cc AS (
         |  SELECT node AS vec_id, min(lab) AS component
         |  FROM reach GROUP BY 1
         |)
         |SELECT emb.label, count(*) AS n_vecs,
         |       cast(sum(CASE WHEN cc.component = emb.vec_id
         |                     THEN 1 ELSE 0 END) AS bigint) AS n_kept
         |FROM embeddings emb JOIN cc USING (vec_id)
         |GROUP BY 1""".stripMargin,

    "text_bpe_pair_counts" ->
      s"""WITH wd AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS w FROM documents
         |),
         |f AS (SELECT w, count(*) AS freq FROM wd GROUP BY 1),
         |p AS (
         |  SELECT freq,
         |         unnest(list_transform(range(1, len(w)),
         |                               i -> w[i:i+1])) AS pair
         |  FROM f WHERE len(w) >= 2
         |)
         |SELECT pair, cast(sum(freq) AS bigint) AS cnt
         |FROM p GROUP BY 1
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // replays the same k greedy merge rounds as the Spark driver loop:
    // per round, pair counts over the space-joined symbol strings, the
    // (cnt DESC, pair ASC) argmax, then the same left-to-right
    // non-overlapping replace — chained CTEs because k is a fixed
    // constant of the query
    "text_bpe_merges" -> {
      val k = 6
      val rounds = (1 to k).map { i =>
        s"""|p$i AS (
            |  SELECT pair, cast(sum(freq) AS bigint) AS cnt FROM (
            |    SELECT freq, unnest(list_transform(range(1, len(s)),
            |           j -> s[j] || ' ' || s[j+1])) AS pair
            |    FROM (SELECT string_split(ws, ' ') AS s, freq FROM w${i - 1})
            |    WHERE len(s) >= 2
            |  ) GROUP BY 1
            |),
            |m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
            |w$i AS (
            |  SELECT replace(ws, (SELECT pair FROM m$i),
            |                 replace((SELECT pair FROM m$i), ' ', '')) AS ws,
            |         freq FROM w${i - 1}
            |)""".stripMargin
      }.mkString(",\n")
      val union = (1 to k)
        .map(i => s"SELECT $i AS step, pair, cnt FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH wt AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(${cleanToksSql("text")}) AS w FROM documents)
         |  GROUP BY 1
         |),
         |w0 AS (
         |  SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws, freq
         |  FROM wt
         |),
         |""".stripMargin + rounds + "\n" + union + "\nORDER BY step"
    },

    // the merges chain again (same 6 rounds, same tiebreak), but each
    // wi carries the ORIGINAL word w so the final encoded form joins
    // back to the per-doc token stream
    "text_bpe_encode" -> {
      val k = 6
      val rounds = (1 to k).map { i =>
        s"""|p$i AS (
            |  SELECT pair, cast(sum(freq) AS bigint) AS cnt FROM (
            |    SELECT freq, unnest(list_transform(range(1, len(s)),
            |           j -> s[j] || ' ' || s[j+1])) AS pair
            |    FROM (SELECT string_split(ws, ' ') AS s, freq FROM w${i - 1})
            |    WHERE len(s) >= 2
            |  ) GROUP BY 1
            |),
            |m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
            |w$i AS (
            |  SELECT w, replace(ws, (SELECT pair FROM m$i),
            |                 replace((SELECT pair FROM m$i), ' ', '')) AS ws,
            |         freq FROM w${i - 1}
            |)""".stripMargin
      }.mkString(",\n")
      s"""WITH wt AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(${cleanToksSql("text")}) AS w FROM documents)
         |  GROUP BY 1
         |),
         |w0 AS (
         |  SELECT w, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws, freq
         |  FROM wt
         |),
         |""".stripMargin + rounds + s""",
         |tk AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS w
         |  FROM documents
         |)
         |SELECT tk.doc_id, count(*)::BIGINT AS n_tokens,
         |       cast(sum(len(string_split(w$k.ws, ' '))) AS BIGINT)
         |         AS n_symbols
         |FROM tk JOIN w$k ON tk.w = w$k.w
         |GROUP BY 1""".stripMargin
    },

    "text_balanced_resample" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, source,
         |         cast(len(${cleanToksSql("text")}) AS bigint) AS n_tok
         |  FROM documents
         |),
         |cells AS (
         |  SELECT lang, source, cast(sum(n_tok) AS bigint) AS cell_tok
         |  FROM d GROUP BY 1, 2
         |),
         |a AS (
         |  SELECT cast(sum(cell_tok) AS double) / count(*) AS target
         |  FROM cells
         |),
         |r AS (
         |  SELECT lang, source,
         |         least(1.0, target / cast(cell_tok AS double)) AS rate
         |  FROM cells CROSS JOIN a
         |),
         |k AS (
         |  SELECT d.lang, d.source, d.n_tok
         |  FROM d JOIN r USING (lang, source)
         |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
         |        / 4294967296.0 < r.rate
         |)
         |SELECT lang, source, count(*) AS n_kept,
         |       cast(sum(n_tok) AS bigint) AS tok_kept
         |FROM k GROUP BY 1, 2""".stripMargin,

    "rel_value_histogram" ->
      """SELECT cast(floor(value / 20) AS bigint) AS bucket, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,

    "rel_moving_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
        |)
        |SELECT user_id, event_id,
        |       round(avg(value) OVER (PARTITION BY user_id
        |                              ORDER BY ts_us, event_id
        |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |             6) AS mavg
        |FROM e""".stripMargin,

    "dedup_jaccard_pairs" -> {
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |)
         |SELECT id1, id2,
         |       round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |         AS jaccard
         |FROM j""".stripMargin
    },

    // same window-lag neighborhood formulation; the exact-Jaccard tail is
    // shared with dedup_jaccard_pairs' oracle
    "dedup_sorted_neighborhood" -> {
      s"""WITH t AS (
         |  SELECT doc_id, ${cleanToksSql("text")} AS l,
         |         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
         |                1, 24) AS bkey
         |  FROM documents
         |),
         |o AS (
         |  SELECT doc_id,
         |         lag(doc_id, 1) OVER w AS n1,
         |         lag(doc_id, 2) OVER w AS n2,
         |         lag(doc_id, 3) OVER w AS n3
         |  FROM t WINDOW w AS (ORDER BY bkey, doc_id)
         |),
         |p AS (
         |  SELECT n1 AS id1, doc_id AS id2 FROM o WHERE n1 IS NOT NULL
         |  UNION ALL
         |  SELECT n2 AS id1, doc_id AS id2 FROM o WHERE n2 IS NOT NULL
         |  UNION ALL
         |  SELECT n3 AS id1, doc_id AS id2 FROM o WHERE n3 IS NOT NULL
         |),
         |sets AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM t),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM p
         |  JOIN sets s1 ON p.id1 = s1.doc_id
         |  JOIN sets s2 ON p.id2 = s2.doc_id
         |)
         |SELECT id1, id2,
         |       round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |         AS jaccard
         |FROM j
         |WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |      >= 0.5""".stripMargin
    },

    // same candidate-pair chain as dedup_jaccard_pairs, thresholded, then
    // transitive closure via a recursive CTE: min reachable doc_id per
    // node == the engine's min-label-propagation fixpoint
    "dedup_connected_components" -> {
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |  UNION ALL
         |  SELECT id2, id1 FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS lab FROM documents
         |  UNION
         |  SELECT reach.node, e.b AS lab
         |  FROM reach JOIN edges e ON reach.lab = e.a
         |)
         |SELECT node AS doc_id, min(lab) AS component
         |FROM reach GROUP BY 1""".stripMargin
    },

    // same candidate chain as dedup_jaccard_pairs; asymmetric ratios over
    // the exact distinct-shingle set sizes instead of the union
    "dedup_containment_pairs" -> {
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) AS n1, len(s2.sh) AS n2
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |)
         |SELECT id1, id2,
         |       round(cast(inter AS double) / cast(n1 AS double), 6)
         |         AS contain1,
         |       round(cast(inter AS double) / cast(n2 AS double), 6)
         |         AS contain2
         |FROM j""".stripMargin
    },

    // same candidate chain restricted to (training, benchmark) membership
    // pairs; scores mirror the engine's jaccard + eval-side containment
    "dedup_cross_corpus" -> {
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |src AS (SELECT doc_id, (source = 'src0') AS bench FROM documents),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) AS n1, len(s2.sh) AS n2,
         |         x1.bench AS b1
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |  JOIN src x1 ON pairs.id1 = x1.doc_id
         |  JOIN src x2 ON pairs.id2 = x2.doc_id
         |  WHERE x1.bench <> x2.bench
         |), sc AS (
         |  SELECT CASE WHEN b1 THEN id2 ELSE id1 END AS doc_id,
         |         CASE WHEN b1 THEN id1 ELSE id2 END AS eval_id,
         |         round(cast(inter AS double)
         |               / cast(n1 + n2 - inter AS double), 6) AS jaccard,
         |         round(cast(inter AS double)
         |               / cast(CASE WHEN b1 THEN n1 ELSE n2 END AS double),
         |               6) AS contain_eval
         |  FROM j
         |)
         |SELECT doc_id, eval_id, jaccard, contain_eval FROM sc
         |WHERE jaccard >= 0.5 OR contain_eval >= 0.8""".stripMargin
    },

    // same thresholded edge chain as dedup_connected_components, then two
    // PageRank iterations unrolled as plain CTEs (teleport 0.15/N, damping
    // 0.85, isolated nodes keep teleport-only mass via the left joins)
    "dedup_pagerank" -> {
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |  UNION ALL
         |  SELECT id2, id1 FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |),
         |deg AS (SELECT a AS src, count(*) AS deg FROM edges GROUP BY a),
         |nn AS (SELECT count(*) AS n FROM documents),
         |r0 AS (SELECT doc_id, 1.0 / nn.n AS r FROM documents, nn),
         |i1 AS (
         |  SELECT e.b AS doc_id, sum(r0.r / deg.deg) AS inflow
         |  FROM edges e JOIN r0 ON e.a = r0.doc_id JOIN deg ON e.a = deg.src
         |  GROUP BY e.b
         |),
         |r1 AS (
         |  SELECT d.doc_id, 0.15 / nn.n + 0.85 * coalesce(i1.inflow, 0.0) AS r
         |  FROM documents d CROSS JOIN nn
         |  LEFT JOIN i1 ON d.doc_id = i1.doc_id
         |),
         |i2 AS (
         |  SELECT e.b AS doc_id, sum(r1.r / deg.deg) AS inflow
         |  FROM edges e JOIN r1 ON e.a = r1.doc_id JOIN deg ON e.a = deg.src
         |  GROUP BY e.b
         |),
         |r2 AS (
         |  SELECT d.doc_id, 0.15 / nn.n + 0.85 * coalesce(i2.inflow, 0.0) AS r
         |  FROM documents d CROSS JOIN nn
         |  LEFT JOIN i2 ON d.doc_id = i2.doc_id
         |)
         |SELECT doc_id, round(r, 9) AS pagerank FROM r2""".stripMargin
    },

    // ground truth from an exact shingle self-join; candidates from the
    // same banded chain as dedup_jaccard_pairs; found = their intersection
    "dedup_lsh_recall" -> {
      // ground truth (ex/inter/sz/tp) mirrors the Spark side's two budget
      // bounds: the SAME scale-inverse md5-bucket doc sample
      // (min(40, ceil(20000/N))% — 40% at the harness's 500-doc tables)
      // and the SAME TruthDfCap discriminative-shingle cut; the candidate
      // CTEs ($lshPairsCtes + jj/cand) stay full-corpus — the production
      // path
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |ssets AS (
         |  SELECT * FROM sets
         |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |        % 100 < greatest(1, least(40,
         |          cast(ceil(20000.0 / greatest(1,
         |            (SELECT count(*) FROM documents))) AS bigint)))
         |),
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM ssets),
         |keep AS (
         |  SELECT g FROM ex GROUP BY g
         |  HAVING count(*) BETWEEN 2 AND $TruthDfCap
         |),
         |exd AS (SELECT ex.* FROM ex JOIN keep USING (g)),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |  FROM exd a JOIN exd b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sz AS (SELECT doc_id, len(sh) AS n FROM ssets),
         |tp AS (
         |  SELECT id1, id2 FROM inter
         |  JOIN sz s1 ON inter.id1 = s1.doc_id
         |  JOIN sz s2 ON inter.id2 = s2.doc_id
         |  WHERE round(cast(inter AS double) /
         |              cast(s1.n + s2.n - inter AS double), 6) >= 0.5
         |),
         |$lshPairsCtes,
         |jj AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |),
         |cand AS (
         |  SELECT id1, id2 FROM jj
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |),
         |f AS (SELECT count(*) AS n_found FROM
         |        (SELECT * FROM tp INTERSECT SELECT * FROM cand)),
         |nt AS (SELECT count(*) AS n_true FROM tp)
         |SELECT nt.n_true, f.n_found,
         |       round(CASE WHEN nt.n_true > 0
         |                  THEN cast(f.n_found AS double) / nt.n_true
         |                  ELSE 1.0 END, 6) AS recall
         |FROM nt CROSS JOIN f""".stripMargin
    },

    // same thresholded (id1 < id2) edge chain as dedup_connected_components
    // WITHOUT symmetrizing; triangles via the ordered two-join, wedges from
    // undirected degrees
    "dedup_triangle_count" -> {
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |),
         |edges AS (
         |  SELECT id1, id2 FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |),
         |deg AS (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT id1 AS n FROM edges
         |    UNION ALL SELECT id2 FROM edges) GROUP BY 1
         |),
         |w AS (SELECT cast(coalesce(sum(d * (d - 1)), 0) / 2 AS bigint)
         |             AS n_wedges FROM deg),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM edges e1
         |  JOIN edges e2 ON e1.id2 = e2.id1
         |  JOIN edges e3 ON e1.id1 = e3.id1 AND e2.id2 = e3.id2
         |),
         |ne AS (SELECT count(*) AS n_edges FROM edges)
         |SELECT ne.n_edges, w.n_wedges, tri.n_triangles,
         |       round(CASE WHEN w.n_wedges > 0
         |                  THEN 3.0 * tri.n_triangles / w.n_wedges
         |                  ELSE 0.0 END, 6) AS clustering_coeff
         |FROM ne CROSS JOIN w CROSS JOIN tri""".stripMargin
    },

    // fixed 10-token chunking replayed with list slicing; dup = chunk text
    // in more than one distinct doc
    "dedup_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |$chunkCtes,
         |fr AS (SELECT chunk, count(DISTINCT doc_id) AS nd
         |       FROM ch GROUP BY 1)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         |       cast(sum(CASE WHEN fr.nd > 1 THEN 1 ELSE 0 END) AS bigint)
         |         AS n_dup_chunks,
         |       round(avg(CASE WHEN fr.nd > 1 THEN 1.0 ELSE 0.0 END), 6)
         |         AS dup_frac
         |FROM ch JOIN fr USING (chunk)
         |GROUP BY ch.doc_id""".stripMargin,

    // fingerprint = md5 of the whitespace/case-normalized text, matching
    // Dedup.normalize/fingerprint; NOT EXISTS = the left-anti join; the
    // re-ingested rows reproduce the engine's synthetic batch exactly
    "dedup_incremental_ingest" ->
      """WITH corpus AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 250
        |),
        |batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000, lang, upper('  ' || text || '  ')
        |  FROM corpus WHERE doc_id % 5 = 0
        |),
        |cfp AS (
        |  SELECT DISTINCT
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM corpus
        |),
        |bfp AS (
        |  SELECT doc_id, lang,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM batch
        |),
        |k AS (
        |  SELECT doc_id, lang, fp,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM bfp b
        |  WHERE NOT EXISTS (SELECT 1 FROM cfp c WHERE c.fp = b.fp)
        |)
        |SELECT doc_id, lang FROM k WHERE rn = 1""".stripMargin,

    // same chunking as dedup_chunk_dedup with an index; keep = unique OR
    // canonical owner; order restored by string_agg(... ORDER BY idx)
    "dedup_chunk_removal" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |$chunkCtes,
         |own AS (SELECT chunk, count(DISTINCT doc_id) AS nd,
         |               min(doc_id) AS owner
         |        FROM ch GROUP BY 1)
         |SELECT ch.doc_id,
         |       string_agg(ch.chunk, ' ' ORDER BY ch.idx) AS clean_text
         |FROM ch JOIN own USING (chunk)
         |WHERE own.nd = 1 OR ch.doc_id = own.owner
         |GROUP BY 1""".stripMargin,

    // sliding 8-token grams; HAVING keeps only spans shared across docs
    "dedup_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(l) - 6),
         |           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
         |                l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' ' ||
         |                l[i+6] || ' ' || l[i+7])) AS gram
         |  FROM t WHERE len(l) >= 8
         |)
         |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM g GROUP BY 1
         |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    // the dedup_connected_components transitive closure, then per-language
    // survivor accounting against the canonical (min-id) representative
    "pipeline_fuzzy_dedup" -> {
      s"""WITH RECURSIVE t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |  UNION ALL
         |  SELECT id2, id1 FROM j
         |  WHERE round(cast(inter AS double) / cast(tot - inter AS double), 6)
         |        >= 0.5
         |),
         |reach AS (
         |  SELECT doc_id AS node, doc_id AS lab FROM documents
         |  UNION
         |  SELECT reach.node, e.b AS lab
         |  FROM reach JOIN edges e ON reach.lab = e.a
         |),
         |cc AS (
         |  SELECT node AS doc_id, min(lab) AS component
         |  FROM reach GROUP BY 1
         |),
         |d AS (
         |  SELECT doc_id, lang,
         |         cast(len(${cleanToksSql("text")}) AS bigint) AS n_tok
         |  FROM documents
         |)
         |SELECT d.lang, count(*) AS n_docs,
         |       cast(sum(CASE WHEN cc.component = d.doc_id
         |                     THEN 1 ELSE 0 END) AS bigint) AS n_kept,
         |       cast(sum(CASE WHEN cc.component = d.doc_id
         |                     THEN d.n_tok ELSE 0 END) AS bigint)
         |         AS n_tokens_kept
         |FROM d JOIN cc USING (doc_id)
         |GROUP BY 1""".stripMargin
    },

    // replays both Lloyd iterations: seed centroids = vectors 0..9,
    // rounded-cosine argmax assignment, re-trained means rounded to 6
    "emb_kmeans" ->
      s"""WITH $embUnnestCte,
         |c0 AS (
         |  SELECT vec_id AS clabel, pos, cast(vx AS double) AS m
         |  FROM v WHERE vec_id < 10
         |),
         |s1 AS (
         |  SELECT v.vec_id, c0.clabel,
         |         sum(cast(v.vx AS double) * c0.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c0.m * c0.m) AS bb
         |  FROM v JOIN c0 ON v.pos = c0.pos
         |  GROUP BY v.vec_id, c0.clabel
         |),
         |a1 AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (
         |           PARTITION BY vec_id
         |           ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC,
         |                    clabel) AS rn
         |  FROM s1
         |),
         |c1 AS (
         |  SELECT a1.clabel, v.pos, round(avg(cast(v.vx AS double)), 6) AS m
         |  FROM v JOIN a1 ON v.vec_id = a1.vec_id AND a1.rn = 1
         |  GROUP BY a1.clabel, v.pos
         |),
         |s2 AS (
         |  SELECT v.vec_id, c1.clabel,
         |         sum(cast(v.vx AS double) * c1.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c1.m * c1.m) AS bb
         |  FROM v JOIN c1 ON v.pos = c1.pos
         |  GROUP BY v.vec_id, c1.clabel
         |),
         |a2 AS (
         |  SELECT vec_id, clabel,
         |         round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos,
         |         row_number() OVER (
         |           PARTITION BY vec_id
         |           ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC,
         |                    clabel) AS rn
         |  FROM s2
         |)
         |SELECT vec_id, cast(clabel AS bigint) AS cluster, cos
         |FROM a2 WHERE rn = 1""".stripMargin,

    "emb_pq_encode" ->
      s"""WITH $embUnnestCte,
         |$pqCodesCte
         |SELECT vec_id,
         |       cast(max(CASE WHEN sub = 0 THEN clabel END) AS bigint) AS code_0,
         |       cast(max(CASE WHEN sub = 1 THEN clabel END) AS bigint) AS code_1,
         |       cast(max(CASE WHEN sub = 2 THEN clabel END) AS bigint) AS code_2,
         |       cast(max(CASE WHEN sub = 3 THEN clabel END) AS bigint) AS code_3
         |FROM codes WHERE rn = 1 GROUP BY vec_id""".stripMargin,

    "emb_pq_search" ->
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |q AS (
         |  SELECT (pos - 1) // 16 AS sub, pos, cast(vx AS double) AS qx
         |  FROM v WHERE vec_id = 0
         |),
         |dt AS (
         |  SELECT cb.sub, cb.clabel,
         |         round(sum((q.qx - cb.m) * (q.qx - cb.m)), 6) AS dd
         |  FROM q JOIN cb ON q.pos = cb.pos
         |  GROUP BY cb.sub, cb.clabel
         |)
         |SELECT c.vec_id, round(sum(dt.dd), 6) AS adc
         |FROM codes c JOIN dt ON c.sub = dt.sub AND c.clabel = dt.clabel
         |WHERE c.rn = 1
         |GROUP BY c.vec_id
         |ORDER BY adc ASC, c.vec_id ASC LIMIT 10""".stripMargin,

    "emb_ivf_assign" ->
      s"""WITH $embUnnestCte,
         |c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |),
         |sc AS (
         |  SELECT v.vec_id, c.clabel,
         |         sum(cast(v.vx AS double) * c.m) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa,
         |         sum(c.m * c.m) AS bb
         |  FROM v JOIN c ON v.pos = c.pos
         |  GROUP BY v.vec_id, c.clabel
         |),
         |r AS (
         |  SELECT vec_id, clabel,
         |         round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |  FROM sc
         |),
         |w AS (
         |  SELECT vec_id, clabel, cos,
         |         row_number() OVER (PARTITION BY vec_id
         |                            ORDER BY cos DESC, clabel) AS rn
         |  FROM r
         |)
         |SELECT vec_id, clabel AS assigned, cos FROM w WHERE rn = 1""".stripMargin,

    "emb_ivf_search" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), cell AS (
         |  SELECT clabel, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS ccos
         |  FROM cs, qq
         |), probed AS (
         |  SELECT clabel FROM (
         |    SELECT clabel, row_number() OVER (ORDER BY ccos DESC, clabel) AS rn
         |    FROM cell) WHERE rn <= 3
         |), d AS (
         |  SELECT v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos)
         |  WHERE v.label IN (SELECT clabel FROM probed)
         |  GROUP BY v.vec_id, v.label
         |)
         |SELECT vec_id, label, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |FROM d, qq
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "text_bpe_token_count" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |         AS n_bpe
        |FROM documents""".stripMargin,

    // both sides re-derived: exact brute-force top-10 and the 3-probed-cell
    // IVF top-10, intersected; the empty-overlap case still yields one row
    "emb_ivf_recall" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), ed AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM ed, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), cell AS (
         |  SELECT clabel, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS ccos
         |  FROM cs, qq
         |), probed AS (
         |  SELECT clabel FROM (
         |    SELECT clabel, row_number() OVER (ORDER BY ccos DESC, clabel) AS rn
         |    FROM cell) WHERE rn <= 3
         |), dd AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos)
         |  WHERE v.label IN (SELECT clabel FROM probed)
         |  GROUP BY v.vec_id
         |), ivf AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM dd, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |)
         |SELECT cast(count(*) AS bigint) AS n_overlap,
         |       round(count(*) / 10.0, 6) AS recall_at_10
         |FROM exact JOIN ivf USING (vec_id)""".stripMargin,

    // same exact-arithmetic replay as emb_ivf_recall, expanded to a
    // per-nprobe curve: candidate cosines computed once, rung membership
    // by centroid rank <= nprobe, overlap counted against the exact top-10
    "emb_ivf_nprobe_curve" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id = 0
         |), qq AS (
         |  SELECT sum(cast(qx AS double) * cast(qx AS double)) AS bb FROM q
         |), ed AS (
         |  SELECT v.vec_id, v.label,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY 1, 2
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM ed, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |), c AS (
         |  SELECT label AS clabel, pos, avg(cast(vx AS double)) AS m
         |  FROM v GROUP BY label, pos
         |), cs AS (
         |  SELECT clabel, sum(m * cast(qx AS double)) AS dot,
         |         sum(m * m) AS aa
         |  FROM c JOIN q USING (pos) GROUP BY clabel
         |), ranked AS (
         |  SELECT clabel, row_number() OVER (
         |    ORDER BY round(dot / (sqrt(aa) * sqrt(bb)), 6) DESC, clabel)
         |    AS rn
         |  FROM cs, qq
         |), nps AS (SELECT unnest([1, 4, 10]) AS nprobe),
         |cand AS (
         |  SELECT nps.nprobe, ed.vec_id,
         |         round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |  FROM ed JOIN ranked r ON ed.label = r.clabel
         |  CROSS JOIN nps CROSS JOIN qq
         |  WHERE r.rn <= nps.nprobe
         |), nc AS (
         |  SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY 1
         |), ivf AS (
         |  SELECT nprobe, vec_id FROM (
         |    SELECT nprobe, vec_id, row_number() OVER (
         |      PARTITION BY nprobe ORDER BY cos DESC, vec_id) AS rk
         |    FROM cand) WHERE rk <= 10
         |), ov AS (
         |  SELECT nprobe, count(*) AS n_overlap
         |  FROM ivf JOIN exact USING (vec_id) GROUP BY 1
         |)
         |SELECT nc.nprobe::BIGINT AS nprobe,
         |       nc.n_candidates::BIGINT AS n_candidates,
         |       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
         |       round(coalesce(ov.n_overlap, 0) / 10.0, 6) AS recall_at_10
         |FROM nc LEFT JOIN ov USING (nprobe)""".stripMargin,

    // the full composition replayed: coarse routing (rounded centroid
    // cosine, top-3 cells), ADC scoring through the per-subspace distance
    // tables restricted to probed-cell vectors, 50-vector shortlist,
    // exact-cosine re-rank of the shortlist only
    "emb_ivfpq_search" ->
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |$ivfPqCtes
         |SELECT sh.vec_id, sh.adc,
         |       round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |ORDER BY cos DESC, sh.vec_id ASC LIMIT 10""".stripMargin,

    // both sides re-derived end to end: the exact brute-force top-10 and
    // the composed IVF×PQ top-10, intersected (the emb_ivf_recall shape
    // for the composition)
    "emb_ivfpq_recall" ->
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |$ivfPqCtes,
         |ivfpq AS (
         |  SELECT vec_id FROM (
         |    SELECT sh.vec_id,
         |           round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |    FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |    ORDER BY cos DESC, sh.vec_id ASC LIMIT 10)
         |), edall AS (
         |  SELECT v.vec_id,
         |         sum(cast(v.vx AS double) * cast(q.qx AS double)) AS dot,
         |         sum(cast(v.vx AS double) * cast(v.vx AS double)) AS aa
         |  FROM v JOIN q USING (pos) GROUP BY v.vec_id
         |), exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, round(dot / (sqrt(aa) * sqrt(bb)), 6) AS cos
         |    FROM edall, qq ORDER BY cos DESC, vec_id LIMIT 10)
         |)
         |SELECT cast(count(*) AS bigint) AS n_overlap,
         |       round(count(*) / 10.0, 6) AS recall_at_10
         |FROM exact JOIN ivfpq USING (vec_id)""".stripMargin,

    // the maintained-index search replayed: identical composition to
    // emb_ivfpq_search, with ADC candidacy restricted to snapshot v1's
    // live vectors (the retired slice is gone from the index; the
    // frozen model — centroids, codebook, distance tables — still
    // trains on the corpus, exactly as the Spark side freezes it)
    "emb_ivfpq_incremental" ->
      s"""WITH $embUnnestCte,
         |$pqCodesCte,
         |${ivfPqCtes.replace("WHERE cd.rn = 1",
             "WHERE cd.rn = 1\n    AND NOT (e.vec_id >= 200 AND e.vec_id < 350)")}
         |SELECT sh.vec_id, sh.adc,
         |       round(ed.dot / (sqrt(ed.aa) * sqrt(qq.bb)), 6) AS cos
         |FROM short sh JOIN ed ON sh.vec_id = ed.vec_id, qq
         |ORDER BY cos DESC, sh.vec_id ASC LIMIT 10""".stripMargin,

    "stock_count_x100" ->
      s"""$linesCte,
         |lines100 AS (SELECT line FROM lines CROSS JOIN range(100)),
         |tickers AS (
         |  SELECT trim(l[-1]) AS ticker
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines100)
         |  WHERE len(l) > 3
         |),
         |counts AS (SELECT ticker, count(*) AS cnt FROM tickers GROUP BY ticker)
         |SELECT row_number() OVER (ORDER BY cnt DESC, ticker) AS rank,
         |       ticker, cnt
         |FROM counts""".stripMargin,

    "word_count_x100" ->
      s"""$linesCte,
         |lines100 AS (SELECT line FROM lines CROSS JOIN range(100)),
         |heads AS (
         |  SELECT array_to_string(l[2:len(l)-2], ',') AS h
         |  FROM (SELECT ${javaSplitSql("line")} AS l FROM lines100)
         |  WHERE len(l) > 1
         |),
         |toks AS (
         |  SELECT unnest(string_split_regex(
         |           regexp_replace(lower(h), '[^a-z ]', ' ', 'g'),
         |           '\\s+')) AS word
         |  FROM heads
         |),
         |counts AS (
         |  SELECT word, count(*) AS cnt FROM toks
         |  WHERE len(word) > 0 AND word NOT IN $stopListSql
         |  GROUP BY word
         |),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |         word, cnt
         |  FROM counts
         |)
         |SELECT rank, word, cnt FROM ranked WHERE rank <= 100""".stripMargin,

    "rel_auc_roc" ->
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), d AS (
        |  SELECT v, sum(pos)::HUGEINT AS np, count(*)::HUGEINT AS n
        |  FROM s GROUP BY v
        |), r AS (
        |  SELECT np, n, sum(n) OVER (ORDER BY v) AS run FROM d
        |), a AS (
        |  SELECT sum(np) AS n1, sum(n - np) AS n0,
        |         sum(np * (2 * run - n + 1)) AS ra2
        |  FROM r
        |)
        |SELECT cast(n1 AS BIGINT) AS n1, cast(n0 AS BIGINT) AS n0,
        |       round(cast(ra2 - n1 * (n1 + 1) AS DOUBLE) /
        |             (2.0 * cast(n1 AS DOUBLE) * cast(n0 AS DOUBLE)), 6)
        |         AS auc
        |FROM a""".stripMargin,

    "rel_calibration_bins" ->
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |)
        |SELECT cents // 10 AS bin, count(*) AS n,
        |       round(sum(cents)::DOUBLE / (100.0 * count(*)), 6)
        |         AS mean_score,
        |       round(sum(pos)::DOUBLE / count(*)::DOUBLE, 6) AS pos_rate
        |FROM s GROUP BY 1""".stripMargin,

    "rel_cohens_kappa" ->
      """WITH s AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a,
        |         CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS b
        |  FROM orders
        |), m AS (
        |  SELECT count(*)::HUGEINT AS n,
        |         sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::HUGEINT
        |           AS n11,
        |         sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)::HUGEINT
        |           AS n00,
        |         sum(a)::HUGEINT AS a1, sum(b)::HUGEINT AS b1
        |  FROM s
        |)
        |SELECT cast(n AS BIGINT) AS n,
        |       round(cast(n11 + n00 AS DOUBLE) / cast(n AS DOUBLE), 6)
        |         AS po,
        |       round(cast(a1 * b1 + (n - a1) * (n - b1) AS DOUBLE) /
        |             cast(n * n AS DOUBLE), 6) AS pe,
        |       round(cast(n * (n11 + n00) - a1 * b1 - (n - a1) * (n - b1)
        |                  AS DOUBLE) /
        |             cast(n * n - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE),
        |             6) AS kappa
        |FROM m""".stripMargin,

    "rel_ndcg_eval" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         cast(round(value * 100) AS BIGINT) AS score,
        |         CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
        |              WHEN 'click' THEN 1 ELSE 0 END AS rel
        |  FROM events
        |), r AS (
        |  SELECT user_id, rel,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY score DESC, event_id) AS rk,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY rel DESC, event_id) AS irk
        |  FROM e
        |), p AS (
        |  SELECT user_id,
        |         sum(CASE WHEN rk <= 10 THEN rel * (2520 // rk)
        |                  ELSE 0 END) AS dcg,
        |         sum(CASE WHEN irk <= 10 THEN rel * (2520 // irk)
        |                  ELSE 0 END) AS idcg
        |  FROM r GROUP BY user_id
        |)
        |SELECT count(*) AS n_users,
        |       round(cast(sum((dcg * 2000000 + idcg) // (idcg * 2))
        |                  AS DOUBLE) /
        |             cast(count(*) * 1000000 AS DOUBLE), 6) AS mean_ndcg
        |FROM p WHERE idcg > 0""".stripMargin,

    "rel_geo_radius_join" ->
      """WITH c AS (
        |  SELECT c_custkey AS ck,
        |         (c_custkey * 48271) % 100000 AS cx,
        |         (c_custkey * 69621) % 100000 AS cy
        |  FROM customer
        |), sp AS (
        |  SELECT s_suppkey AS sk,
        |         (s_suppkey * 48271 + 12345) % 100000 AS sx,
        |         (s_suppkey * 69621 + 54321) % 100000 AS sy
        |  FROM supplier
        |), p AS (
        |  SELECT (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
        |  FROM c CROSS JOIN sp
        |  WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 25000000
        |)
        |SELECT count(*) AS n_pairs,
        |       cast(sum(d2::HUGEINT) AS DOUBLE) AS sum_d2,
        |       cast(min(d2) AS BIGINT) AS min_d2
        |FROM p""".stripMargin,

    "rel_ivm_join" ->
      """SELECT c_nationkey,
        |       cast(sum(cast(round(o_totalprice * 100) AS BIGINT)::HUGEINT)
        |            AS DOUBLE) AS rev_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,

    "rel_isotonic_fit" ->
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), b AS (
        |  SELECT cents // 10 AS bin, count(*) AS n, sum(pos)::BIGINT AS sp
        |  FROM s GROUP BY 1
        |), jk AS (
        |  SELECT j.bin AS j, k.bin AS k FROM b j CROSS JOIN b k
        |  WHERE j.bin <= k.bin
        |), a AS (
        |  SELECT jk.j, jk.k,
        |         sum(b.sp)::DOUBLE / sum(b.n)::DOUBLE AS av
        |  FROM jk JOIN b ON b.bin BETWEEN jk.j AND jk.k
        |  GROUP BY jk.j, jk.k
        |), m AS (
        |  SELECT i.bin AS i, a.j, min(a.av) AS mn
        |  FROM b i JOIN a ON a.j <= i.bin AND a.k >= i.bin
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT i, max(mn) AS fit FROM m GROUP BY i
        |)
        |SELECT b.bin, b.n,
        |       round(b.sp::DOUBLE / b.n::DOUBLE, 6) AS raw_rate,
        |       round(f.fit, 6) AS fit_rate
        |FROM b JOIN f ON f.i = b.bin""".stripMargin,

    "rel_bootstrap_ci" ->
      s"""WITH o AS (
        |  SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
        |           AS cents
        |  FROM orders
        |), seeds AS (
        |  SELECT cents,
        |         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
        |           ::UBIGINT::BIGINT AS x
        |  FROM o
        |), mix AS (
        |  SELECT * FROM (VALUES
        |    ${bootMix.map { case (b, a, c) => s"($b, $a, $c)" }
                 .mkString(",\n        |    ")}) AS t(b, a, c)
        |), reps AS (
        |  SELECT mix.b, seeds.cents,
        |         CASE
        |           WHEN u < 0.36787944117144233 THEN 0
        |           WHEN u < 0.7357588823428847 THEN 1
        |           WHEN u < 0.9196986029286058 THEN 2
        |           WHEN u < 0.9810118431238462 THEN 3
        |           WHEN u < 0.9963401531726563 THEN 4
        |           WHEN u < 0.9994058151824183 THEN 5
        |           ELSE 6 END AS w
        |  FROM seeds CROSS JOIN mix,
        |       LATERAL (SELECT ((mix.a * (seeds.x % $BootP) + mix.c)
        |           % $BootP)::DOUBLE / $BootP.0 AS u) h
        |), means AS (
        |  SELECT sum((w * cents)::HUGEINT)::DOUBLE /
        |         sum(w)::DOUBLE AS m
        |  FROM reps GROUP BY b
        |), ms AS (
        |  SELECT list(m ORDER BY m) AS ms FROM means
        |)
        |SELECT round((SELECT sum(cents::HUGEINT)::DOUBLE /
        |                     count(*)::DOUBLE FROM o), 6) AS mean_cents,
        |       round(ms[2], 6) AS boot_lo, round(ms[19], 6) AS boot_hi,
        |       cast(len(ms) AS BIGINT) AS n_replicas
        |FROM ms""".stripMargin,

    "rel_seasonal_smoothing" ->
      """WITH d AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         epoch_us(ts) // 86400000000 AS day, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1, 2
        |), sm AS (
        |  SELECT hod,
        |         list_reduce(list_prepend(0.0::DOUBLE,
        |             list(x ORDER BY day)),
        |           (acc, x) -> 0.75::DOUBLE * acc + 0.25::DOUBLE * x) AS ew
        |  FROM d GROUP BY hod
        |), mu AS (SELECT avg(ew) AS mu FROM sm)
        |SELECT hod, round(ew, 6) AS ewma,
        |       round(ew / mu, 6) AS seasonal_idx
        |FROM sm CROSS JOIN mu""".stripMargin,

    "rel_cms_selfjoin_size" ->
      """WITH keys AS (
        |  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1
        |), ex AS (
        |  SELECT sum(c::HUGEINT * c) AS f2x FROM keys
        |), hp AS (
        |  SELECT * FROM (VALUES (0, 1103515245, 12345),
        |                        (1, 1140671485, 12820163),
        |                        (2, 134775813, 1),
        |                        (3, 214013, 2531011),
        |                        (4, 16843009, 826366247)) AS t(j, a, b)
        |), bk AS (
        |  SELECT hp.j,
        |         ((hp.a * (keys.k % 2147483647) + hp.b) % 2147483647)
        |           % 1024 AS bkt,
        |         keys.c
        |  FROM keys CROSS JOIN hp
        |), cb AS (
        |  SELECT j, bkt, sum(c) AS cb FROM bk GROUP BY 1, 2
        |), es AS (
        |  SELECT min(f2j) AS f2e FROM (
        |    SELECT j, sum(cb::HUGEINT * cb) AS f2j FROM cb GROUP BY j)
        |)
        |SELECT cast(f2x AS DOUBLE) AS f2_exact,
        |       cast(f2e AS DOUBLE) AS f2_est,
        |       round(cast(f2e AS DOUBLE) / cast(f2x AS DOUBLE), 6)
        |         AS blowup
        |FROM ex CROSS JOIN es""".stripMargin,

    "stream_calibration_bins" ->
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |)
        |SELECT cents // 10 AS bin, count(*) AS n,
        |       round(sum(cents)::DOUBLE / (100.0 * count(*)), 6)
        |         AS mean_score,
        |       round(sum(pos)::DOUBLE / count(*)::DOUBLE, 6) AS pos_rate
        |FROM s GROUP BY 1""".stripMargin,

    "text_repetition_score" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t)
         |SELECT doc_id, cast(len(sh) AS BIGINT) AS n_shingles,
         |       cast(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |       round(1.0::DOUBLE - len(list_distinct(sh))::DOUBLE /
         |             len(sh)::DOUBLE, 6) AS rep_ratio
         |FROM shl""".stripMargin,

    "rel_sql_interface" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n,
        |       sum(cast(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
        |       round(sum(cast(l_discount AS DECIMAL(18,4)))::DOUBLE
        |             / count(*), 6) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "rel_sql_running_sum" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |         cast(round(o_totalprice * 100) AS bigint) AS cents
        |  FROM orders
        |)
        |SELECT o_orderkey, cents,
        |       cast(sum(cents) OVER (ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS running_cents
        |FROM o""".stripMargin,

    "rel_sql_global_rank" ->
      """SELECT event_id, value,
        |       cast(row_number() OVER (ORDER BY value DESC, event_id)
        |            AS integer) AS rank
        |FROM events""".stripMargin,

    "rel_sql_shift_delta" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       lag(v, 1) OVER (ORDER BY t, event_id) AS prev_v
        |FROM e""".stripMargin,

    "rel_sql_edge_first" ->
      """SELECT o_orderkey, o_totalprice,
        |       first_value(o_totalprice)
        |         OVER (ORDER BY o_orderdate, o_orderkey) AS first_price
        |FROM orders""".stripMargin,

    "rel_sql_frame_sum" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER w AS bigint) AS mov_sum,
        |       cast(count(v) OVER w AS bigint) AS mov_n
        |FROM e
        |WINDOW w AS (ORDER BY t, event_id
        |             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "rel_sql_range_trailing" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(sum(v) OVER r AS bigint) AS rev_5s,
        |       cast(count(v) OVER r AS bigint) AS n_5s
        |FROM e
        |WINDOW r AS (ORDER BY t
        |             RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "rel_sql_rank_ties" ->
      """SELECT o_orderkey, cast(o_orderdate AS date) AS d,
        |       cast(rank() OVER (ORDER BY cast(o_orderdate AS date))
        |            AS integer) AS rnk
        |FROM orders""".stripMargin,

    "rel_sql_window_mixed" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t, event_id,
        |         CASE WHEN event_type <> 'error'
        |              THEN cast(round(value * 1000) AS bigint) END AS v
        |  FROM events
        |)
        |SELECT event_id,
        |       cast(row_number() OVER o AS bigint) AS rn,
        |       cast(rank() OVER o AS bigint) AS rnk,
        |       cast(sum(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS bigint) AS run_total,
        |       lag(v, 1) OVER o AS prev_v,
        |       first_value(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS first_v,
        |       round(avg(v) OVER (ORDER BY t, event_id
        |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |             6) AS mov_avg
        |FROM e
        |WINDOW o AS (ORDER BY t, event_id)""".stripMargin,

    "rel_woe_iv" ->
      """WITH e AS (
        |  SELECT event_id, value,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS pos
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |), b AS (
        |  SELECT pos, ntile(10) OVER (ORDER BY value, event_id) AS bin
        |  FROM e
        |), g AS (
        |  SELECT bin, cast(sum(pos) AS bigint) AS p_i,
        |         cast(count(*) - sum(pos) AS bigint) AS n_i
        |  FROM b GROUP BY 1
        |), t AS (
        |  SELECT cast(sum(pos) AS bigint) AS p_tot,
        |         cast(count(*) - sum(pos) AS bigint) AS n_tot
        |  FROM e
        |)
        |SELECT cast(bin AS bigint) AS bin, p_i, n_i,
        |       round(ln(((p_i + 0.5) / (p_tot + 0.5)) /
        |                ((n_i + 0.5) / (n_tot + 0.5))), 6) AS woe,
        |       round(((p_i + 0.5) / (p_tot + 0.5) -
        |              (n_i + 0.5) / (n_tot + 0.5)) *
        |             ln(((p_i + 0.5) / (p_tot + 0.5)) /
        |                ((n_i + 0.5) / (n_tot + 0.5))), 6) AS iv_i
        |FROM g, t""".stripMargin,

    "rel_rolling_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         (ts::DATE - DATE '1970-01-01') AS day
        |  FROM events
        |), sp AS (
        |  SELECT max(day) AS d1 FROM ud
        |), x AS (
        |  SELECT user_id, day + r.range AS obs_day FROM ud, range(7) r
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day,
        |       count(DISTINCT user_id) AS wau
        |FROM x, sp WHERE obs_day <= sp.d1
        |GROUP BY 1""".stripMargin,

    // From-scratch k-smallest per window == the merged per-day partials
    // (lossless KMV merge identity) — so the oracle never sees the
    // store, only the definition
    "rel_rolling_wau_sketch" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         (ts::DATE - DATE '1970-01-01') AS day
        |  FROM events
        |), sp AS (
        |  SELECT max(day) AS d1 FROM ud
        |), x AS (
        |  SELECT DISTINCT day + r.range AS obs_day,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM ud, range(7) r
        |), rk AS (
        |  SELECT obs_day, h,
        |         row_number() OVER (PARTITION BY obs_day ORDER BY h)
        |           AS rn
        |  FROM x, sp WHERE obs_day <= sp.d1
        |), s AS (
        |  SELECT obs_day, count(*) AS n_kept, max(h) AS theta
        |  FROM rk WHERE rn <= 128 GROUP BY 1
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day, n_kept,
        |       CASE WHEN n_kept < 128 THEN round(n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / theta::DOUBLE, 4) END AS est
        |FROM s""".stripMargin,

    "text_hashed_features" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${cleanToksSql("text")}) AS token
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
         |  FROM tok
         |), e AS (
         |  SELECT doc_id, h % 64 AS dim,
         |         CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM f
         |), g AS (
         |  SELECT doc_id, dim, cast(sum(sgn) AS bigint) AS val
         |  FROM e GROUP BY 1, 2
         |), dd AS (
         |  SELECT d.doc_id, r.range AS dim
         |  FROM (SELECT DISTINCT doc_id FROM documents) d, range(64) r
         |)
         |SELECT dd.doc_id,
         |       string_agg(cast(coalesce(g.val, 0) AS VARCHAR), ';'
         |                  ORDER BY dd.dim) AS features
         |FROM dd LEFT JOIN g ON g.doc_id = dd.doc_id AND g.dim = dd.dim
         |GROUP BY dd.doc_id""".stripMargin,

    // each rolling window's sketch from scratch over the window's raw
    // rows — the lossless merge makes the partials path equal it
    // bit-for-bit, contents included
    "rel_rolling_p95_sketch" ->
      """WITH t AS (
        |  SELECT (ts::DATE - DATE '1970-01-01') AS day,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), sp AS (SELECT max(day) AS d1 FROM t),
        |obs AS (
        |  SELECT DISTINCT day + g AS obs_day
        |  FROM (SELECT DISTINCT day FROM t)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS g), sp
        |  WHERE day + g <= sp.d1
        |), w AS (
        |  SELECT o.obs_day, t.cents, t.h
        |  FROM obs o JOIN t ON t.day BETWEEN o.obs_day - 6 AND o.obs_day
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM w
        |), lev AS (
        |  SELECT obs_day, l, count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2
        |), lv AS (
        |  SELECT obs_day, min(l) AS lvl FROM lev WHERE cnt <= 256
        |  GROUP BY 1
        |), ret AS (
        |  SELECT z.obs_day, z.h, z.cents, lv.lvl
        |  FROM z JOIN lv USING (obs_day) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY obs_day
        |                            ORDER BY cents, h) AS rv,
        |         count(*) OVER (PARTITION BY obs_day) AS m
        |  FROM ret
        |)
        |SELECT cast(obs_day AS bigint) AS obs_day,
        |       cast(lvl AS bigint) AS lvl, cast(m AS bigint) AS n_kept,
        |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                THEN cents END) AS p50_cents,
        |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                THEN cents END) AS p95_cents,
        |       lvl::VARCHAR || ';' ||
        |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
        |                    ORDER BY h, cents) AS contents
        |FROM ord GROUP BY obs_day, lvl, m""".stripMargin,

    "rel_asof_nearest" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |         max(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pv,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |           AS nv
        |  FROM e
        |)
        |SELECT event_id, user_id,
        |       CASE WHEN ts_us - pv <= 900000000 AND
        |                 (nv IS NULL OR ts_us - pv <= nv - ts_us
        |                  OR nv - ts_us > 900000000)
        |            THEN pv
        |            WHEN nv - ts_us <= 900000000 THEN nv
        |            END AS nearest_view_us
        |FROM m WHERE event_type = 'purchase'""".stripMargin,

    "rel_table_checksum" ->
      """SELECT count(*) AS n_rows,
        |       cast(sum(('0x' || substr(md5(
        |         coalesce(l_orderkey::VARCHAR, '\N') || '|'
        |         || coalesce(l_partkey::VARCHAR, '\N') || '|'
        |         || coalesce(l_suppkey::VARCHAR, '\N') || '|'
        |         || coalesce(cast(l_quantity AS DECIMAL(18,2))::VARCHAR,
        |                     '\N') || '|'
        |         || coalesce(l_returnflag, '\N')), 1, 15))::BIGINT)
        |            AS VARCHAR) AS checksum
        |FROM lineitem""".stripMargin,

    // from-scratch sketch of the full stream: KMV merge is lossless, so
    // the incrementally-refreshed sketch must equal it exactly
    "rel_theta_ivm" ->
      """WITH b AS (
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
        |       CASE WHEN s.n_kept < 128 THEN round(s.n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / s.theta::DOUBLE, 4) END AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin,

    "rel_theta_containment" ->
      """WITH b AS (
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
        |), sa AS (
        |  SELECT count(*) AS s_a
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka, t
        |  WHERE ka.h < t.theta
        |)
        |SELECT si.s_inter, sa.s_a,
        |       round(si.s_inter::DOUBLE / sa.s_a::DOUBLE, 6)
        |         AS containment
        |FROM si, sa""".stripMargin,

    "rel_sql_sketch_agg" ->
      """WITH b AS (
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
        |)
        |SELECT event_type, n_kept,
        |       CASE WHEN n_kept < 128 THEN round(n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / theta::DOUBLE, 4) END AS est
        |FROM s""".stripMargin,

    // daily partials merged in O(k) must equal the from-scratch
    // k-smallest construction — KMV merge is lossless
    "rel_sql_kmv_merge" ->
      """WITH b AS (
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
        |)
        |SELECT event_type, n_kept,
        |       CASE WHEN n_kept < 128 THEN round(n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / theta::DOUBLE, 4) END AS est
        |FROM s""".stripMargin,

    // the round-tripped (persisted-then-merged) sketch must equal the
    // from-scratch k-smallest construction — KMV merge is lossless
    "rel_sketch_roundtrip" ->
      """WITH b AS (
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
        |)
        |SELECT event_type, n_kept,
        |       CASE WHEN n_kept < 128 THEN round(n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / theta::DOUBLE, 4) END AS est
        |FROM s""".stripMargin,

    // identical md5/60-bit/kth-min arithmetic per cap; the error column
    // is derived from the same estimate, so the whole curve is exact
    "rel_kmv_cap_curve" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id * 100000
        |           + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events
        |), h AS (
        |  SELECT ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |), x AS (
        |  SELECT count(*) AS exact FROM b
        |), caps AS (SELECT unnest([64, 256, 1024]) AS cap),
        |s AS (
        |  SELECT cap, count(*) AS n_kept, max(h) AS theta
        |  FROM r JOIN caps ON rn <= cap GROUP BY 1
        |), e AS (
        |  SELECT cap, n_kept,
        |         CASE WHEN n_kept < cap THEN round(n_kept::DOUBLE, 4)
        |              ELSE round((cap - 1)::DOUBLE * 1152921504606846976
        |                         / theta::DOUBLE, 4) END AS est
        |  FROM s
        |)
        |SELECT cap::BIGINT AS cap, n_kept::BIGINT AS n_kept, est,
        |       x.exact::BIGINT AS exact,
        |       round(abs(est - x.exact) / x.exact, 6) AS rel_err
        |FROM e, x""".stripMargin,

    // every grouping-set cell from scratch: the cube's rollups-from-
    // partials must equal these bit-for-bit (lossless merge at every
    // level)
    "rel_sketch_cube" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, event_type,
        |         (ts::DATE - DATE '1970-01-01') % 7 AS dow
        |  FROM events
        |), c AS (
        |  SELECT event_type AS tg, dow AS dg, user_id FROM ud
        |  UNION
        |  SELECT event_type, -1, user_id FROM ud
        |  UNION
        |  SELECT 'ALL', dow, user_id FROM ud
        |  UNION
        |  SELECT 'ALL', -1, user_id FROM ud
        |), h AS (
        |  SELECT tg, dg,
        |         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM c
        |), r AS (
        |  SELECT tg, dg, h,
        |         row_number() OVER (PARTITION BY tg, dg ORDER BY h)
        |           AS rn
        |  FROM h
        |), s AS (
        |  SELECT tg, dg, count(*) AS n_kept, max(h) AS theta
        |  FROM r WHERE rn <= 128 GROUP BY 1, 2
        |)
        |SELECT tg AS event_type_g, cast(dg AS bigint) AS dow_g, n_kept,
        |       CASE WHEN n_kept < 128 THEN round(n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / theta::DOUBLE, 4) END AS est
        |FROM s""".stripMargin,

    "rel_quantile_partials" ->
      """WITH p AS (
        |  SELECT event_type, (ts::DATE - DATE '1970-01-01') AS day,
        |         length(bin(CAST(round(value * 100, 0) AS BIGINT)))
        |           AS bucket,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), sp AS (SELECT max(day) AS d1 FROM p),
        |h AS (
        |  SELECT event_type, bucket, sum(cnt) AS cnt
        |  FROM p, sp WHERE day > sp.d1 - 7 GROUP BY 1, 2
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
        |FROM c GROUP BY 1, 2""".stripMargin,

    // the retained set is a pure function of the data (minimal level L
    // with <= 256 rows of trailing-zero count >= L over md5(event_id)),
    // so the oracle rebuilds it from the definition and checks the full
    // sketch contents string bit-for-bit, plus the rank readouts
    "rel_quantile_sketch" -> qsketchFromScratchSql,

    // cap curve: the from-scratch rebuild parameterized by cap, plus
    // the exact integer rank-error readout of each served estimate
    "rel_qsketch_cap_curve" ->
      """WITH t AS (
        |  SELECT event_type,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM t
        |), lev AS (
        |  SELECT event_type, cap, l,
        |         count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z
        |  CROSS JOIN (VALUES (256), (1024), (4096)) AS c(cap)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2, 3
        |), lv AS (
        |  SELECT event_type, cap, min(l) AS lvl FROM lev
        |  WHERE cnt <= cap GROUP BY 1, 2
        |), ret AS (
        |  SELECT z.event_type, lv.cap, z.cents, lv.lvl
        |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, cap
        |                            ORDER BY cents) AS rv,
        |         count(*) OVER (PARTITION BY event_type, cap) AS m
        |  FROM ret
        |), est AS (
        |  SELECT event_type, cap, lvl, cast(m AS bigint) AS n_kept,
        |         max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                  THEN cents END) AS p50_cents,
        |         max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                  THEN cents END) AS p95_cents
        |  FROM ord GROUP BY event_type, cap, lvl, m
        |), rk AS (
        |  SELECT e.event_type, e.cap, e.lvl, e.n_kept,
        |         e.p50_cents, e.p95_cents,
        |         count(*) AS n,
        |         sum(CASE WHEN t.cents <= e.p50_cents THEN 1
        |                  ELSE 0 END) AS r50,
        |         sum(CASE WHEN t.cents <= e.p95_cents THEN 1
        |                  ELSE 0 END) AS r95
        |  FROM est e JOIN t ON t.event_type = e.event_type
        |  GROUP BY 1, 2, 3, 4, 5, 6
        |)
        |SELECT event_type, cast(cap AS bigint) AS cap,
        |       cast(lvl AS bigint) AS lvl, n_kept,
        |       p50_cents, p95_cents,
        |       cast(abs(2 * r50 - n) * 10000 // (2 * n) AS bigint)
        |         AS err50_bp,
        |       cast(abs(20 * r95 - 19 * n) * 10000 // (20 * n) AS bigint)
        |         AS err95_bp
        |FROM rk""".stripMargin,

    // SQL build+merge path: lossless merge ⇒ same from-scratch oracle
    "rel_sql_qsketch" -> qsketchFromScratchSql,

    // stream-to-store path (exactly-once partials, replayed batch
    // replaces): lossless merge ⇒ same from-scratch oracle
    "stream_qsketch_handoff" -> qsketchFromScratchSql,

    // unbounded-stream stateful path: order-insensitive retained set ⇒
    // streamed == batch bit-for-bit, same from-scratch oracle
    "stream_qsketch" -> qsketchFromScratchSql,

    // lossless merge identity: the trailing-7-day merge of per-day
    // partials equals the from-scratch sketch of the sliced raw rows —
    // same definition as above, applied after the day cut
    "rel_qsketch_store" ->
      """WITH t0 AS (
        |  SELECT event_type, (ts::DATE - DATE '1970-01-01') AS day,
        |         cast(round(value * 1000) AS bigint) AS cents,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h
        |  FROM events
        |), sp AS (SELECT max(day) AS d1 FROM t0),
        |t AS (
        |  SELECT event_type, cents, h FROM t0, sp WHERE day > sp.d1 - 7
        |), z AS (
        |  SELECT *, CASE WHEN h = 0 THEN 60
        |                 ELSE bit_count(CAST((~h) & (h - 1) AS BIGINT))
        |            END AS tz
        |  FROM t
        |), lev AS (
        |  SELECT event_type, l, count(*) FILTER (WHERE tz >= l) AS cnt
        |  FROM z CROSS JOIN (SELECT unnest(generate_series(0, 60)) AS l)
        |  GROUP BY 1, 2
        |), lv AS (
        |  SELECT event_type, min(l) AS lvl FROM lev WHERE cnt <= 256
        |  GROUP BY 1
        |), ret AS (
        |  SELECT z.event_type, z.h, z.cents, lv.lvl
        |  FROM z JOIN lv USING (event_type) WHERE z.tz >= lv.lvl
        |), ord AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cents, h) AS rv,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM ret
        |)
        |SELECT event_type, cast(lvl AS bigint) AS lvl,
        |       cast(m AS bigint) AS n_kept,
        |       max(CASE WHEN rv = cast(ceil(m * 0.5) AS bigint)
        |                THEN cents END) AS p50_cents,
        |       max(CASE WHEN rv = cast(ceil(m * 0.95) AS bigint)
        |                THEN cents END) AS p95_cents,
        |       lvl::VARCHAR || ';' ||
        |         string_agg(h::VARCHAR || ';' || cents::VARCHAR, ';'
        |                    ORDER BY h, cents) AS contents
        |FROM ord GROUP BY event_type, lvl, m""".stripMargin,

    // SQL-reachability twins of the native aggregates: same answers as
    // their DataFrame siblings' oracles
    "rel_sql_misra_gries" ->
      s"""WITH tk AS (
         |  SELECT unnest(${cleanToksSql("text")}) AS token FROM documents
         |), tot AS (SELECT count(*) AS n FROM tk)
         |SELECT token, count(*) AS cnt
         |FROM tk, tot GROUP BY token, n
         |HAVING count(*) * 50 > n""".stripMargin,

    "rel_sql_cms_merge" ->
      """SELECT event_type, cast(1 AS bigint) AS within_eps
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_sql_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1""".stripMargin,

    "rel_sql_vec_mean" ->
      s"""WITH $embUnnestCte
         |SELECT label, cast(pos AS bigint) AS pos,
         |       round(avg(cast(vx AS double)), 6) AS m
         |FROM v GROUP BY 1, 2""".stripMargin,

    "rel_theta_jaccard_matrix" ->
      """WITH b AS (
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
        |           AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h
        |), k AS (
        |  SELECT event_type, h FROM r WHERE rn <= 128
        |), t AS (
        |  SELECT event_type,
        |         CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |              ELSE max(h) END AS th
        |  FROM (SELECT event_type, h, nd FROM r WHERE rn <= 128)
        |  GROUP BY 1
        |), p AS (
        |  SELECT a.event_type AS ta, bb.event_type AS tb,
        |         least(a.th, bb.th) AS theta
        |  FROM t a JOIN t bb ON a.event_type < bb.event_type
        |), si AS (
        |  SELECT p.ta, p.tb, count(*) AS s_inter
        |  FROM p JOIN k ka ON ka.event_type = p.ta AND ka.h < p.theta
        |         JOIN k kb ON kb.event_type = p.tb AND kb.h = ka.h
        |  GROUP BY 1, 2
        |), su AS (
        |  SELECT p.ta, p.tb, count(DISTINCT u.h) AS s_union
        |  FROM p JOIN k u ON u.event_type IN (p.ta, p.tb)
        |                 AND u.h < p.theta
        |  GROUP BY 1, 2
        |)
        |SELECT p.ta, p.tb,
        |       coalesce(si.s_inter, 0) AS s_inter, su.s_union,
        |       round(coalesce(si.s_inter, 0)::DOUBLE
        |             / su.s_union::DOUBLE, 6) AS jacc_est
        |FROM p
        |LEFT JOIN si ON si.ta = p.ta AND si.tb = p.tb
        |JOIN su ON su.ta = p.ta AND su.tb = p.tb""".stripMargin,

    "rel_theta_sketch_distinct" ->
      """WITH b AS (
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
        |       CASE WHEN s.n_kept < 128 THEN round(s.n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / s.theta::DOUBLE, 4) END AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin,

    "rel_theta_union_merge" ->
      """WITH b AS (
        |  SELECT DISTINCT
        |         user_id * 100000 + (ts::DATE - DATE '1970-01-01') AS key
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), h AS (
        |  SELECT ('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM b
        |), r AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |), s AS (
        |  SELECT count(*) AS n_kept, max(h) AS theta FROM r WHERE rn <= 128
        |)
        |SELECT s.n_kept,
        |       CASE WHEN s.n_kept < 128 THEN round(s.n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / s.theta::DOUBLE, 4) END AS est,
        |       (SELECT count(*) FROM b) AS exact
        |FROM s""".stripMargin,

    "rel_theta_intersect" ->
      """WITH b AS (
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
        |), ex AS (
        |  SELECT count(*) AS exact FROM (
        |    SELECT key FROM b GROUP BY key HAVING count(*) = 2)
        |)
        |SELECT si.s_inter,
        |       round(si.s_inter::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est,
        |       ex.exact
        |FROM si, t, ex""".stripMargin,

    "rel_theta_diff" ->
      """WITH b AS (
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
        |), t AS (
        |  SELECT min(th) AS theta FROM (
        |    SELECT CASE WHEN max(nd) < 128 THEN 1152921504606846976
        |                ELSE max(h) END AS th
        |    FROM k GROUP BY event_type)
        |), sd AS (
        |  SELECT count(*) AS s_diff
        |  FROM (SELECT h FROM k WHERE event_type = 'click') ka, t
        |  WHERE ka.h < t.theta
        |    AND ka.h NOT IN (SELECT h FROM k WHERE event_type = 'purchase')
        |), ex AS (
        |  SELECT count(*) AS exact FROM (
        |    SELECT key FROM b WHERE event_type = 'click'
        |    AND key NOT IN (SELECT key FROM b WHERE event_type = 'purchase'))
        |)
        |SELECT sd.s_diff,
        |       round(sd.s_diff::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est,
        |       ex.exact
        |FROM sd, t, ex""".stripMargin,

    // the two streamed sketches equal their batch sketches exactly, so
    // the combined estimates equal the batch set-operation oracles
    "stream_theta_setops" ->
      """WITH b AS (
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
        |       CASE WHEN su.n_union < 128 THEN round(su.n_union::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / su.theta_u::DOUBLE, 4) END AS est_union,
        |       si.s_inter,
        |       round(si.s_inter::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est_inter,
        |       sd.s_diff,
        |       round(sd.s_diff::DOUBLE * 1152921504606846976
        |             / t.theta::DOUBLE, 4) AS est_diff,
        |       ex.exact_union, ex.exact_inter, exd.exact_diff
        |FROM su, t, si, sd, ex, exd""".stripMargin,

    // identical to rel_asof_last_view's oracle: the streaming operator
    // must reproduce the batch as-of window bit-for-bit
    "stream_asof_enrich" ->
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
        |FROM m WHERE event_type = 'purchase'""".stripMargin,

    // two conditional edge-value carries over the same as-of window,
    // long format: one row per purchase x lookup type
    "stream_asof_multi" ->
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
        |FROM m WHERE event_type = 'purchase'""".stripMargin,

    // same strictly-prior-view window, cut at the final watermark
    // horizon (max ms-floored event time − 10 min lateness): the
    // watermark-gated stream has finalized exactly these purchases
    "stream_asof_bounded" ->
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
        |FROM m, w WHERE event_type = 'purchase' AND ts_us <= w.h""".stripMargin,

    // identical to rel_theta_sketch_distinct's oracle: the streamed
    // k-smallest state must equal the batch sketch exactly
    "stream_theta_distinct" ->
      """WITH b AS (
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
        |       CASE WHEN s.n_kept < 128 THEN round(s.n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / s.theta::DOUBLE, 4) END AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin,

    // lossless over any batch slicing: the merged store partials equal
    // the from-scratch sketch, so the oracle is the same definition
    "stream_sketch_handoff" ->
      """WITH b AS (
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
        |       CASE WHEN s.n_kept < 128 THEN round(s.n_kept::DOUBLE, 4)
        |            ELSE round(127.0 * 1152921504606846976
        |                       / s.theta::DOUBLE, 4) END AS est,
        |       e.exact
        |FROM s JOIN e USING (event_type)""".stripMargin,

    // partials partition the stream exactly, and the injected duplicate
    // append is removed by the dedup-by-batch_id read — so the served
    // totals are the plain exact aggregate
    "stream_count_handoff" ->
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin,

    // the exactly-once store replaces a replayed batch's partition in
    // place, so the plain scan-and-sum read serves the same exact totals
    "stream_count_handoff_eo" ->
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin,

    // the txn-log store publishes atomically: a replayed batch's commit
    // refuses, uncommitted garbage is invisible — same exact totals
    "stream_txn_sink" ->
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin,

    // the incremental tail must land on exactly the full-stream totals
    "stream_txn_cdc_pipeline" ->
      """SELECT event_type, cast(count(*) AS bigint) AS n_events,
        |       cast(sum(cast(round(value * 1000) AS bigint)) AS bigint)
        |         AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin,

    "rel_item_cooccur_sim" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cnt
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), supp AS (
        |  SELECT l_partkey AS pk, count(DISTINCT l_orderkey) AS supp
        |  FROM lineitem GROUP BY 1
        |), sym AS (
        |  SELECT pa AS item, pb AS nb, cnt FROM pairs
        |  UNION ALL
        |  SELECT pb AS item, pa AS nb, cnt FROM pairs
        |), sc AS (
        |  SELECT sym.item, sym.nb, sym.cnt,
        |         round(sym.cnt::DOUBLE /
        |               sqrt((si.supp * sn.supp)::DOUBLE), 6) AS cosine
        |  FROM sym JOIN supp si ON si.pk = sym.item
        |       JOIN supp sn ON sn.pk = sym.nb
        |), r AS (
        |  SELECT item, nb, cnt, cosine,
        |         row_number() OVER (PARTITION BY item
        |                            ORDER BY cosine DESC, nb) AS rk
        |  FROM sc
        |)
        |SELECT item, nb, cnt, cosine, cast(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin,

    "text_split_leakage" ->
      s"""WITH t AS (SELECT doc_id, ${cleanToksSql("text")} AS l FROM documents),
         |shl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
         |$lshPairsCtes,
         |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM shl),
         |j AS (
         |  SELECT id1, id2,
         |         len(list_filter(s1.sh, x -> list_contains(s2.sh, x)))
         |           AS inter,
         |         len(s1.sh) + len(s2.sh) AS tot
         |  FROM pairs
         |  JOIN sets s1 ON pairs.id1 = s1.doc_id
         |  JOIN sets s2 ON pairs.id2 = s2.doc_id
         |), jj AS (
         |  SELECT id1, id2,
         |         round(cast(inter AS double) / cast(tot - inter AS double),
         |               6) AS jaccard
         |  FROM j
         |), sp AS (
         |  SELECT doc_id,
         |         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
         |                   ::BIGINT % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
         |                   ::BIGINT % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents
         |)
         |SELECT jj.id1, jj.id2, jj.jaccard,
         |       a.split AS split1, b.split AS split2
         |FROM jj JOIN sp a ON a.doc_id = jj.id1
         |     JOIN sp b ON b.doc_id = jj.id2
         |WHERE jj.jaccard >= 0.5 AND a.split <> b.split""".stripMargin,

    "rel_pr_curve" ->
      """WITH s AS (
        |  SELECT cast(round(value * 100) AS BIGINT) % 100 AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events
        |), b AS (
        |  SELECT cents // 10 AS bin, count(*) AS n, sum(pos)::BIGINT AS sp
        |  FROM s GROUP BY 1
        |), byth AS (
        |  SELECT t.bin AS t, sum(b.n)::BIGINT AS pp, sum(b.sp)::BIGINT AS tp
        |  FROM b t JOIN b ON b.bin >= t.bin
        |  GROUP BY t.bin
        |), tot AS (SELECT sum(sp)::BIGINT AS p FROM b)
        |SELECT t, pp, tp,
        |       round(tp::DOUBLE / pp::DOUBLE, 6) AS precision,
        |       round(tp::DOUBLE / p::DOUBLE, 6) AS recall
        |FROM byth CROSS JOIN tot""".stripMargin,

    "emb_knn_accuracy" ->
      s"""WITH $embUnnestCte,
         |q AS (
         |  SELECT vec_id AS qid, label AS qlabel,
         |         unnest(embedding) AS qx,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings WHERE vec_id < 50
         |), nrm AS (
         |  SELECT vec_id, sqrt(sum(cast(vx AS DOUBLE) * vx)) AS nv
         |  FROM v GROUP BY vec_id
         |), d AS (
         |  SELECT q.qid, q.qlabel, v.vec_id, v.label,
         |         sum(cast(v.vx AS DOUBLE) * q.qx) AS dot
         |  FROM v JOIN q USING (pos)
         |  WHERE v.vec_id <> q.qid
         |  GROUP BY q.qid, q.qlabel, v.vec_id, v.label
         |), c AS (
         |  SELECT d.qid, d.qlabel, d.vec_id, d.label,
         |         round(d.dot / (a.nv * b.nv), 6) AS cos
         |  FROM d JOIN nrm a ON a.vec_id = d.vec_id
         |         JOIN nrm b ON b.vec_id = d.qid
         |), top AS (
         |  SELECT qid, qlabel, label,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, vec_id) AS rk
         |  FROM c
         |), votes AS (
         |  SELECT qid, qlabel, label, count(*) AS cnt
         |  FROM top WHERE rk <= 10 GROUP BY qid, qlabel, label
         |), pred AS (
         |  SELECT qid, qlabel, label,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cnt DESC, label) AS vr
         |  FROM votes
         |)
         |SELECT count(*) AS n_queries,
         |       sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)::BIGINT
         |         AS n_correct,
         |       round(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
         |               ::DOUBLE / count(*)::DOUBLE, 6) AS accuracy
         |FROM pred WHERE vr = 1""".stripMargin,

    "rel_holt_winters_forecast" ->
      """WITH RECURSIVE hrs AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT h, x, row_number() OVER (ORDER BY h) AS i FROM hrs
        |), rec AS (
        |  SELECT 0::BIGINT AS i, NULL::BIGINT AS h,
        |         0.0::DOUBLE AS s1v, 0.0::DOUBLE AS s2v
        |  UNION ALL
        |  SELECT idx.i, idx.h,
        |         0.75 * rec.s1v + 0.25 * idx.x,
        |         0.75 * rec.s2v + 0.25 * (0.75 * rec.s1v + 0.25 * idx.x)
        |  FROM rec JOIN idx ON idx.i = rec.i + 1
        |), lastrow AS (
        |  SELECT h AS h0, 2.0 * s1v - s2v AS level,
        |         (s1v - s2v) / 3.0 AS trend
        |  FROM rec WHERE i = (SELECT max(i) FROM rec)
        |), dd AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         epoch_us(ts) // 86400000000 AS day, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1, 2
        |), sm AS (
        |  SELECT hod,
        |         list_reduce(list_prepend(0.0::DOUBLE,
        |             list(x ORDER BY day)),
        |           (acc, x) -> 0.75::DOUBLE * acc + 0.25::DOUBLE * x) AS ew
        |  FROM dd GROUP BY hod
        |), mu AS (SELECT avg(ew) AS mu FROM sm),
        |si AS (
        |  SELECT hod, ew / mu AS sidx FROM sm CROSS JOIN mu
        |), ks AS (SELECT unnest(generate_series(1, 24)) AS k)
        |SELECT ks.k, (lastrow.h0 + ks.k) % 24 AS hod,
        |       round((lastrow.level + ks.k * lastrow.trend) * si.sidx, 6)
        |         AS forecast
        |FROM lastrow CROSS JOIN ks
        |     JOIN si ON si.hod = (lastrow.h0 + ks.k) % 24""".stripMargin,

    "rel_double_ewma_trend" ->
      """WITH RECURSIVE hrs AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*)::DOUBLE AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT h, x, row_number() OVER (ORDER BY h) AS i FROM hrs
        |), rec AS (
        |  SELECT 0::BIGINT AS i, NULL::BIGINT AS h,
        |         0.0::DOUBLE AS s1v, 0.0::DOUBLE AS s2v
        |  UNION ALL
        |  SELECT idx.i, idx.h,
        |         0.75 * rec.s1v + 0.25 * idx.x,
        |         0.75 * rec.s2v + 0.25 * (0.75 * rec.s1v + 0.25 * idx.x)
        |  FROM rec JOIN idx ON idx.i = rec.i + 1
        |)
        |SELECT h, round(s1v, 6) AS s1, round(s2v, 6) AS s2,
        |       round(2.0 * s1v - s2v, 6) AS level,
        |       round((s1v - s2v) / 3.0, 6) AS trend
        |FROM rec WHERE i > 0""".stripMargin,

    // the same 4-pivot, 4-hop-bounded Brandes, unrolled level by level
    // (the rel_ktruss discipline: MATERIALIZED CTEs so DuckDB's default
    // inlining doesn't re-expand the shared edge/level sets); σ is exact
    // BIGINT, per-level δ rounds to 9, the cross-source sum goes through
    // DECIMAL(18,6) so both engines add in the same value space
    "rel_betweenness_panel" ->
      """WITH ed AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
        |                  's' || l_suppkey::VARCHAR AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e2 AS MATERIALIZED (
        |  SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed
        |), lv0 AS MATERIALIZED (
        |  SELECT src, src AS node, 1::BIGINT AS sigma
        |  FROM (SELECT unnest(['s1', 's2', 's3', 's4']) AS src)
        |), lv1 AS MATERIALIZED (
        |  SELECT f.src, e2.b AS node, sum(f.sigma)::BIGINT AS sigma
        |  FROM lv0 f JOIN e2 ON e2.a = f.node
        |  LEFT JOIN lv0 p ON p.src = f.src AND p.node = e2.b
        |  WHERE p.node IS NULL
        |  GROUP BY 1, 2
        |), lv2 AS MATERIALIZED (
        |  SELECT f.src, e2.b AS node, sum(f.sigma)::BIGINT AS sigma
        |  FROM lv1 f JOIN e2 ON e2.a = f.node
        |  LEFT JOIN (SELECT src, node FROM lv0
        |             UNION ALL SELECT src, node FROM lv1) p
        |    ON p.src = f.src AND p.node = e2.b
        |  WHERE p.node IS NULL
        |  GROUP BY 1, 2
        |), lv3 AS MATERIALIZED (
        |  SELECT f.src, e2.b AS node, sum(f.sigma)::BIGINT AS sigma
        |  FROM lv2 f JOIN e2 ON e2.a = f.node
        |  LEFT JOIN (SELECT src, node FROM lv0
        |             UNION ALL SELECT src, node FROM lv1
        |             UNION ALL SELECT src, node FROM lv2) p
        |    ON p.src = f.src AND p.node = e2.b
        |  WHERE p.node IS NULL
        |  GROUP BY 1, 2
        |), lv4 AS MATERIALIZED (
        |  SELECT f.src, e2.b AS node, sum(f.sigma)::BIGINT AS sigma
        |  FROM lv3 f JOIN e2 ON e2.a = f.node
        |  LEFT JOIN (SELECT src, node FROM lv0
        |             UNION ALL SELECT src, node FROM lv1
        |             UNION ALL SELECT src, node FROM lv2
        |             UNION ALL SELECT src, node FROM lv3) p
        |    ON p.src = f.src AND p.node = e2.b
        |  WHERE p.node IS NULL
        |  GROUP BY 1, 2
        |), d3 AS MATERIALIZED (
        |  SELECT v.src, v.node, v.sigma,
        |         round(coalesce(sum((v.sigma::DOUBLE / w.sigma::DOUBLE)
        |                            * (1.0 + 0.0)), 0.0), 9) AS delta
        |  FROM lv3 v
        |  LEFT JOIN e2 ON e2.a = v.node
        |  LEFT JOIN lv4 w ON w.src = v.src AND w.node = e2.b
        |  GROUP BY v.src, v.node, v.sigma
        |), d2 AS MATERIALIZED (
        |  SELECT v.src, v.node, v.sigma,
        |         round(coalesce(sum((v.sigma::DOUBLE / w.sigma::DOUBLE)
        |                            * (1.0 + w.delta)), 0.0), 9) AS delta
        |  FROM lv2 v
        |  LEFT JOIN e2 ON e2.a = v.node
        |  LEFT JOIN d3 w ON w.src = v.src AND w.node = e2.b
        |  GROUP BY v.src, v.node, v.sigma
        |), d1 AS MATERIALIZED (
        |  SELECT v.src, v.node, v.sigma,
        |         round(coalesce(sum((v.sigma::DOUBLE / w.sigma::DOUBLE)
        |                            * (1.0 + w.delta)), 0.0), 9) AS delta
        |  FROM lv1 v
        |  LEFT JOIN e2 ON e2.a = v.node
        |  LEFT JOIN d2 w ON w.src = v.src AND w.node = e2.b
        |  GROUP BY v.src, v.node, v.sigma
        |)
        |SELECT node, count(*)::BIGINT AS n_sources,
        |       CAST(sum(CAST(round(delta, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |         AS betweenness
        |FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |      UNION ALL SELECT * FROM d3)
        |GROUP BY node""".stripMargin,
  )
}
