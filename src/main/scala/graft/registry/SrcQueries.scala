package graft
package registry

import SparkEntry.{tbl, events, staged, stagePartitionedObjects, txnLogStage,
  docLines}
import Shared.linesCte
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks: format round-trips, layouts (partitioned, bucketed,
  * z-ordered, compacted) and the transaction-log table family.
  *
  * Each stages a table slice in the target format (distributed write)
  * and reads it back through that format's source with an explicit
  * schema; the oracle reads the ORIGINAL parquet, so the round-trip
  * must be value-exact (RFC-4180 quoting for CSV commas, shortest
  * round-trip double rendering, ISO timestamps). The staged dirs live
  * under a JVM-lifetime root removed by a shutdown hook. */
private[graft] object SrcQueries {

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
    val bPaths = stagePartitionedObjects(root, "b",
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

  val queries: Seq[Query] = Seq(

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
    Query("src_bucketed_join", (s, dir) => {
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
    },
      // the bucketed layout is an optimization detail — the answer is the
      // plain key join over the raw parquet
      """SELECT o_orderstatus, count(*) AS n_items,
        |       cast(cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS double) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin),

    // Small-file compaction (ops/Compaction): stage a deliberately
    // fragmented layout (64 files for 500 docs — the shape a streaming
    // sink or per-task ingest leaves behind), then rewrite it into
    // size-targeted files. The value check is content IDENTITY through
    // the rewrite; CompactionSpec pins the sizing contract (file count =
    // ceil(bytes/target), derived from the layout's actual bytes).
    Query("src_compaction", (s, dir) => {
      val frag = staged("compact_in")
      val out = staged("compact_out")
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      graft.ops.Compaction.compact(s, frag, out, 64 * 1024L)
      s.read.parquet(out)
    },
      // compaction must be a content no-op — the answer is the raw columns
      "SELECT doc_id, source, n_chars FROM documents"),

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
    Query("src_manifest_prune", (s, dir) => {
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
    },
      // pruning only skips whole files; the answer must equal the plain
      // full-table range filter
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
        |GROUP BY 1""".stripMargin),

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
    Query("src_zorder_prune", (s, dir) => {
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
    },
      // z-order pruning only skips whole files; the answer must equal the
      // plain full-table date filter
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
        |GROUP BY 1""".stripMargin),

    // Hive-partitioned sink + partition-pruned source as a first-class
    // registry query (PartitionPruningSpec pins the PartitionFilters; this
    // pins the VALUES): documents written partitionBy(lang), read back
    // with a lang predicate that must prune to one directory — the layout
    // that turns a 100 TB corpus scan into a per-language scan. The
    // partition column round-trips through directory names (value <->
    // path encoding), which is exactly what the oracle cross-checks.
    Query("src_partitioned_roundtrip", (s, dir) => {
      val out = staged("part_docs")
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    },
      """SELECT source, count(*) AS n_docs,
        |       cast(sum(n_chars) AS bigint) AS chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin),

    // Schema evolution across parquet file generations — the lake
    // reality where old files lack columns new files carry. Two staged
    // batches diverge (the legacy batch has no `lang`), mergeSchema
    // unifies them at READ time (footer-metadata union only — no data
    // rewrite, the missing column materializes as NULL), and the
    // aggregate is null-aware. At 100 TB schema migration is a metadata
    // operation, never a table rewrite.
    Query("src_schema_evolution", (s, dir) => {
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
    },
      // the staged split is BY source, so the merged-read semantics
      // re-express directly over the input table: legacy rows have no lang
      """SELECT CASE WHEN source = 'src0' THEN '<legacy>' ELSE lang END
        |         AS lang,
        |       count(*)::BIGINT AS n_docs,
        |       cast(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin),

    // the staged `line` column carries embedded commas (docLines injects
    // them around "spark"), so the write MUST quote and the read MUST
    // unquote — a real RFC-4180 round-trip, not a comma-free fast path
    Query("src_csv_roundtrip", (s, dir) => {
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
    },
      s"""$linesCte
         |SELECT doc_id, lang, line FROM lines""".stripMargin),

    Query("src_json_roundtrip", (s, dir) => {
      val out = staged("json_events")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .write.mode("overwrite").json(out)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, ts_us BIGINT")
        .json(out)
    },
      """SELECT event_id, user_id, event_type, value,
        |       epoch_us(ts) AS ts_us
        |FROM events""".stripMargin),

    Query("src_orc_roundtrip", (s, dir) => {
      val out = staged("orc_orders")
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders""".stripMargin),

    // Avro container files through the avro-mapred formats (the spark-avro
    // DataSource module is not on this classpath; see AvroRoundTrip —
    // executors write one container file per partition and read them back
    // as splits; the oracle reads the ORIGINAL parquet, so the binary
    // round-trip must be value-exact, nulls and doubles included)
    Query("src_avro_roundtrip", (s, dir) => {
      val out = staged("avro_supplier")
      val slice = tbl(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      graft.sources.AvroRoundTrip.write(slice, out)
      graft.sources.AvroRoundTrip.read(s, out, slice.schema)
    },
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier""".stripMargin),

    // SNAPSHOT ISOLATION / TIME TRAVEL over a transaction log
    // (sources/TxnLog): version 2 predates the copy-on-write DELETE, so
    // its snapshot must read the full table; version 4 follows both the
    // delete and a compaction commit, so it must show the delete and
    // NOTHING from the compaction (a content no-op). The require pins
    // that head resolution is log algebra — exactly 3 live objects
    // (c01, b2d, b3), never a directory listing.
    Query("src_time_travel", (s, dir) => {
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
    },
      // snapshot v2 = the full table; snapshot v4 = the table minus the
      // rows the copy-on-write delete dropped (bucket 2, status 'F') —
      // the compaction commit between them must be content-invisible
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
        |SELECT * FROM s2 UNION ALL SELECT * FROM s4""".stripMargin),

    // INCREMENTAL (CDC-style) version consumption: the rows deleted by
    // the v3 transaction are recovered by reading ONLY the objects that
    // changed in (2, 3] — one removed, one added — and anti-joining the
    // rewrite from the original by key. O(transaction) bytes, never two
    // snapshots; at 100 TB this is the difference between a downstream
    // consumer tailing commits and it re-diffing the lake.
    Query("src_time_travel_diff", (s, dir) => {
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
    },
      // the changed-objects-only read must recover exactly the deleted rows
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 2 AND o_orderstatus = 'F'""".stripMargin),

    // VACUUM under a retention floor: with retain = v3, the only
    // physically deletable object is the one the delete transaction
    // removed (b2) — the compaction's removals (v4 > retain) must stay
    // because snapshot v3 still references them. After the reclaim the
    // head snapshot is byte-identically readable; TxnLogSpec pins that
    // time travel BELOW the floor now fails at read (the documented
    // public VACUUM contract).
    Query("src_txn_vacuum", (s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnLogStage(s, dir, "vac")
      val cands = TxnLog.vacuumCandidates(TxnLog.readLog(s, logDir), 3L)
      require(cands.size == 1 && cands.head.endsWith("/b2"),
        s"retain=3 should reclaim exactly the deleted bucket, got $cands")
      val deleted = TxnLog.vacuum(s, logDir, 3L)
      require(deleted == cands, s"vacuum deleted $deleted, planned $cands")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 4L))
    },
      // storage reclaim below the retention floor must not change the head
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin),

    // RESTORE — history-preserving rollback: one appended commit makes
    // the head equal the pre-delete snapshot again. Nothing is
    // rewritten: the restore RE-ADDS the objects the delete and the
    // compaction removed (their files still exist — vacuum never ran)
    // and removes the rewrites added since; the delete, the compaction,
    // and the restore all remain time-travelable history. Required
    // in-path: the restore lands as one new version and the restored
    // head resolves to the original v2 object set. The oracle is the
    // FULL table — the rollback undid the copy-on-write delete.
    Query("src_txn_restore", (s, dir) => {
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
    },
      // the rollback undid the copy-on-write delete: the restored head is
      // the FULL table
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin),

    // SHALLOW CLONE — a zero-copy table fork: the clone's v0 references
    // the source snapshot's objects (no data moved), then diverges with
    // its OWN transactions while the source is untouched (required
    // in-path: source head and live set unchanged after the clone's
    // delete). The readout aggregates the diverged clone — the bucket-3
    // slice its own commit removed is gone, while the source would
    // still show it. At 100 TB a shallow clone is how a team forks a
    // production table for an experiment in milliseconds.
    Query("src_txn_clone", (s, dir) => {
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
    },
      // the diverged clone dropped its bucket-3 slice; the source (not
      // read here) would still show it
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderkey % 4 <> 3
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_gc", (s, dir) => {
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
    },
      // orphan GC must be content-invisible: the head snapshot equals the
      // post-delete table exactly as in src_txn_vacuum
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_merge", (s, dir) => {
      import graft.sources.TxnLog
      val logDir = txnMergeStage(s, dir, "merge")
      txnSnapAgg(TxnLog.readSnapshot(s, logDir, 1L))
    },
      // MERGE semantics re-expressed declaratively: update-in-place on the
      // hit keys plus the appended inserts; the rewrite targeting is an
      // optimization the aggregate cannot see
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
        |FROM merged GROUP BY 1""".stripMargin),

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
    Query("src_txn_cdf", (s, dir) => {
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
    },
      // the row-level change inventory of the merge: every hit key is
      // modified (status F/O/P -> 'U', price doubled), every ceiling-
      // shifted key inserted; nothing is deleted by a CoW merge
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
        |SELECT o_orderkey + m, 'inserted' FROM upd, mx""".stripMargin),

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
    Query("src_txn_concurrent", (s, dir) => {
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
    },
      // OCC makes the multi-writer outcome schedule-independent: the head
      // snapshot is the full table regardless of which writer won the race
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_skipping", (s, dir) => {
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
    },
      // log-stats skipping only drops whole files; the answer must equal
      // the plain full-table two-dimensional filter
      """SELECT o_orderpriority,
        |       count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
        |  AND o_totalprice BETWEEN 100000 AND 250000
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_schema_evolution", (s, dir) => {
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
    },
      // the evolved snapshot is the union of both generations under the
      // v2 schema: gen-1 rows (keys % 3 = 0) carry NULL for the appended
      // price column, gen-2 rows carry their real price
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END)::BIGINT
        |         AS n_gen1,
        |       CAST(sum(CASE WHEN o_orderkey % 3 <> 0
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2))
        |                END) AS DOUBLE) AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_checkpoint_gc", (s, dir) => {
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
    },
      // checkpoint GC is content-invisible: the head snapshot equals the
      // post-delete table exactly as in src_txn_vacuum
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin),

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
    Query("src_txn_dv_delete", (s, dir) => {
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
    },
      // the merge-on-read delete (two DV'd deletes + the DV-fold
      // compaction) serves the table minus the even-bucket keys named by
      // either vector — and nothing else
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |WHERE NOT (o_orderkey % 2 = 0
        |           AND (o_orderkey % 97 = 0 OR o_orderkey % 101 = 0))
        |GROUP BY 1""".stripMargin),

    // DV-AWARE CHANGE FEED — the row-level half of CDC a merge-on-read
    // delete needs: the delete commit is liveness-NEUTRAL (remove +
    // re-add of the same path nets to zero, so the add/remove change
    // feed reports nothing), yet rows changed. The consumer reads
    // dvChangedBetween's (path, before, after), takes the position
    // delta `after \ before`, and serves the DELETED rows from the
    // UNTOUCHED object by a broadcast semi-join on
    // (leaf, _metadata.row_index) — O(transaction) consumption, no
    // snapshot diff, the same discipline as the add/remove feed.
    Query("src_txn_dv_cdf", (s, dir) => {
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
    },
      // the DV change feed serves exactly the deleted rows, read from the
      // untouched object at the vector's position delta
      """SELECT o_orderkey AS key, 'deleted' AS change
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 = 0""".stripMargin),

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
    Query("src_txn_column_rename", (s, dir) => {
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
    },
      // rename + drop are metadata-only: every row of both generations
      // survives under the final two-column logical schema
      """SELECT o_orderkey % 4 AS bucket, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS tot
        |FROM orders
        |GROUP BY 1""".stripMargin),
  )
}
