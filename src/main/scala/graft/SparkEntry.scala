package graft

import graft.pipelines.StockCount
import graft.registry.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ extensions), each paired with equivalent DuckDB SQL in
  * `oracleSql` over the same parquet tables. Both maps are views of
  * [[graft.registry.Registry.default]]: each operator is one
  * [[graft.registry.Query]] (name, build, oracle) in a family file under
  * `registry/`. This object holds the inputs that several families share.
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

  /** `events` with `ts` as a session-zone TIMESTAMP. The parquet column
    * is TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    * TIMESTAMP_NTZ; the cast runs under the session's UTC zone
    * (wall-clock-preserving, matching how the DuckDB oracle reads the
    * same naive micros). A TIMESTAMP(NANOS) column fails at read with
    * PARQUET_TYPE_ILLEGAL. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))

  /** JVM-lifetime staging root for the batch source round-trip queries
    * (`src_*`): the returned DataFrames read from these files LAZILY (the
    * caller materializes them after the query builder returns), so the
    * directory must outlive the builder — it is removed by a shutdown
    * hook, not per-call (`File.deleteOnExit` can't delete non-empty
    * dirs). Writes use overwrite so bench repeats reuse the same paths. */
  private[graft] lazy val stageRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      "graft-batch-stage-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.streaming.StreamGate.deleteRecursively(d.toString)))
    d
  }

  private[graft] def staged(name: String): String =
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
  private[graft] def stagePartitionedObjects(root: String, prefix: String,
      df: DataFrame, nBuckets: Int = 4): Seq[String] = {
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
  private[graft] def txnLogStage(s: SparkSession, dir: String, name: String)
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
    // land in the files), so the 7 queries that stage through here pay
    // one write, not four. The partition directories are then RENAMED up
    // to the flat b0..b3 object paths (a driver-side metadata move on the
    // local stage) so the root holds exactly the objects the log names —
    // orphan GC and the path-shape requires in the vacuum/clone/gc
    // queries see one object per path.
    val b = stagePartitionedObjects(root, "b",
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

  /** Synthetic raw-CSV-line view of `documents`, exercising the reference's
    * naive-split semantics: field 0 = id, interior = headline (with embedded
    * commas injected around the word "spark"), field n-2 = lang ("date"
    * slot), field n-1 = source ("stock" slot). */
  private[graft] def docLines(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      concat_ws(",", col("doc_id"),
        replace(col("text"), lit(" spark "), lit(",spark,")),
        col("lang"), col("source")).as("line"))

  // ---- flagship -----------------------------------------------------------

  /** Flagship: the full StockCount pipeline on sf0.001 document lines. */
  def entry(spark: SparkSession): DataFrame =
    StockCount.fromLines(
      docLines(spark, "/root/testdata/sf0.001").select(col("line").as("value")))

  // ---- registry -----------------------------------------------------------

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.default.builds

  lazy val oracleSql: Map[String, String] = Registry.default.oracles
}
