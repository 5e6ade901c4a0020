package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Drives an [[EventStream]] transform through the real Structured
  * Streaming engine (file source -> micro-batch execution -> memory sink
  * or a foreachBatch store write) and returns the sink contents as a
  * batch DataFrame, so streaming operators can sit in `SparkEntry.queries`
  * and be checked against the same DuckDB oracles as the batch ops.
  *
  * Two stagers feed every replay: [[stageAndReplay]] writes the input as
  * parquet, drained in one micro-batch; [[stageCsvAndReplay]] writes it
  * as 3 CSV files, replayed one micro-batch per file so state carries
  * across batches. The CSV stager is the one multi-batch shape: Bench,
  * Verify and perfbench all run it. Every query, memory or store, runs
  * the same lifecycle ([[drain]]).
  *
  * Every replay is FULLY DISTRIBUTED: input is staged by the executors
  * and read back by the engine's own file source on the executors — the
  * driver only names directories; nothing is collected anywhere. Swap
  * the staged directory for an object-store path (or the source for
  * Kafka) and the query under test is unchanged — that is the
  * production shape at 100 TB/day.
  */
object StreamGate {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily lowered:
    * a stateful streaming query materializes one state-store instance per
    * shuffle partition and checkpoints each one per micro-batch, so a
    * bounded replay at the session's batch setting (32) pays 32x the
    * checkpoint I/O for kilobytes of state. Production unbounded streams
    * size this to their key cardinality; the replay gate doesn't need to.
    * Default 2, matching the stream-stream join gate's earlier A/B:
    * measured across 12 stateful replays at sf0.1, 2 reads ~5% under 4
    * (19.7 -> 18.6 s, repeat=3 min, no query slower beyond noise) — the
    * per-store per-batch checkpoint fixed cost outweighs parallelism at
    * replay state sizes. Results are partition-count-independent.
    * The conf is read at query START, so it must wrap `start()`. */
  private def withReplayPartitions[A](spark: SparkSession, n: Int = 2)
                                     (body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Checkpoint dir for a replay: tmpfs when available (every micro-batch
    * fsyncs offset/commit logs and state snapshots — RAM-backed files cut
    * that to memcpy; a production stream would point this at durable
    * storage instead), else the JVM temp dir. Unique per call so reruns
    * never resume a stale query; deleted by the caller once the query
    * stops (`File.deleteOnExit` cannot remove non-empty directories, so
    * relying on it would leak every replay's state snapshots). */
  private def ckptDir(name: String): String = scratchDir("ckpt", name)

  /** Run `body` with the engine's no-data micro-batches disabled when
    * the sink is COMPLETE-mode: the no-data batch exists to advance the
    * watermark so APPEND sinks can flush and state can evict — a
    * complete-mode sink already re-emits the full result on every data
    * batch, and a bounded replay stops right after, so the extra batch
    * is pure fixed cost (~0.6 s of incremental re-planning + one more
    * state-store checkpoint per query). Append and update replays keep
    * the engine default (append NEEDS the flush batch; update may carry
    * state timeouts). An unbounded production stream keeps no-data
    * batches on either way — this is replay-gate shape, not semantics. */
  private def withCompleteModeNoDataOff[A](spark: SparkSession,
      mode: String)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    if (mode != "complete") body
    else {
      val old = spark.conf.get(key)
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, old)
    }
  }

  /** Files a staged CSV replay is split into: the CSV replays read one
    * file per trigger, so 3 files are 3 micro-batches and incremental
    * state genuinely carries across batches. Every caller — Bench,
    * Verify, the perfbench JVM, the specs — replays this one shape. */
  private val StagedFiles = 3

  /** Scratch directory for replay transients. CHECKPOINTS ("ckpt") go to
    * tmpfs when available: they are kilobytes of offset/commit/state files
    * fsync'd every micro-batch, where RAM-backed writes cut the dominant
    * cost and cannot meaningfully fill memory. STAGED INPUT (everything
    * else) scales with the data, and tmpfs is typically capped at half of
    * RAM — so it goes to the disk-backed JVM temp dir instead of risking
    * memory exhaustion at larger scale factors. A production stream stages
    * through an object store / Kafka and checkpoints to durable storage. */
  def scratchDir(kind: String, name: String): String = {
    val base =
      if (kind == "ckpt" && new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), s"graft-$kind-$name-")
    d.toString
  }

  /** Best-effort recursive delete for replay scratch (checkpoint dirs,
    * staged file-source dirs). Never throws — cleanup must not mask a
    * query failure. */
  def deleteRecursively(dir: String): Unit =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount) // children before parents
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
      }
    } catch { case _: Exception => () }

  /** The one query lifecycle every replay runs: start `w` against a
    * fresh checkpoint, drain every available input, stop the query and
    * delete its checkpoint — the stop and the delete run even when the
    * drain throws. */
  private def drain(name: String, w: DataStreamWriter[Row]): Unit = {
    val ckpt = ckptDir(name)
    val q = w.option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally { q.stop(); deleteRecursively(ckpt) }
  }

  /** Drain `out` into the memory table `name` under the replay
    * partitioning and the complete-mode no-data setting, then return
    * the table as a batch frame. */
  private def drainToMemory(spark: SparkSession, name: String,
                            mode: String)(out: => DataFrame)
  : DataFrame = withReplayPartitions(spark) {
    withCompleteModeNoDataOff(spark, mode) {
      drain(name, out.writeStream
        .format("memory").queryName(name).outputMode(mode))
    }
    spark.table(name)
  }

  /** The CSV file source with a one-file-per-trigger cap: the engine
    * runs one micro-batch PER FILE, so incremental stateful aggregation
    * across micro-batches is actually exercised, unlike the parquet
    * replay, which drains every file into batch 0. The text source also
    * covers schema enforcement + typed parsing (the parquet source
    * carries its own schema). Batch-to-file assignment is NOT
    * time-ordered, so callers must use a lateness larger than the
    * data's event-time span or accept watermark late-drops. */
  private def csvSource(spark: SparkSession, sourceDir: String,
                        schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").csv(sourceDir)

  /** Fully distributed replay: stream a staged parquet directory through
    * the real FILE source (`spark.readStream.schema(...).parquet(dir)`) —
    * the executors list and read the files; nothing is collected to the
    * driver anywhere in the pipeline. This is the production shape: swap
    * the directory for an object-store path (or the source for Kafka) and
    * the query is unchanged. The file source drains every available file
    * into the first micro-batch (no maxFilesPerTrigger cap), so a bounded
    * replay is one batch + the engine's own watermark-advance batch. */
  def replayFileSource(spark: SparkSession, sourceDir: String,
                       schema: StructType, name: String, mode: String)
                      (transform: DataFrame => DataFrame): DataFrame =
    drainToMemory(spark, name, mode)(
      transform(spark.readStream.schema(schema).parquet(sourceDir)))

  /** Directory-level CSV replay into the memory sink: one micro-batch per
    * file of `sourceDir` (see [[csvSource]]). Staged frames reach it
    * through [[stageCsvAndReplay]]; hand-written files, whose contents
    * and modification times fix the batch order, are replayed directly. */
  def replayCsvMultiBatch(spark: SparkSession, sourceDir: String,
                          schema: StructType, name: String, mode: String)
                         (transform: DataFrame => DataFrame): DataFrame =
    drainToMemory(spark, name, mode)(
      transform(csvSource(spark, sourceDir, schema)))

  /** Directory-level CSV replay whose sink is a STORE, not a memory
    * table: foreachBatch hands each micro-batch (one per file, see
    * [[csvSource]]) with its batch id to `write` — the stream-to-
    * warehouse handoff shape, where a streaming pipeline materializes
    * mergeable partials and batch consumers merge them at read. The
    * stream itself keeps NO state between batches (per-batch work is a
    * normal batch aggregation inside `write`), so executor memory is
    * bounded by the per-batch reduction output regardless of stream
    * length; durability is the store's.
    *
    * foreachBatch is AT-LEAST-ONCE: a crash between the store write and
    * the checkpoint commit re-presents the batch with the same batch id.
    * Where idempotence lives is the choice of `write`:
    *  - [[appendBatch]]: duplicates the partial; the read side must
    *    merge idempotently or dedup by batch_id;
    *  - [[writeBatchPartition]]: replaces the batch's partition;
    *  - [[publishBatchTxn]]: finds its log version already committed. */
  def replayCsvForeachBatch(spark: SparkSession, sourceDir: String,
                            schema: StructType, name: String)
                           (write: (DataFrame, Long) => Unit)
  : Unit = withReplayPartitions(spark) {
    drain(name, csvSource(spark, sourceDir, schema).writeStream
      .foreachBatch(write))
  }

  /** The AT-LEAST-ONCE store write for ONE batch partial: APPEND it to
    * `storeDir`, tagged with its batch id. A replayed batch appends its
    * partial twice. Consumers that merge with an idempotent operation
    * (KMV/theta k-smallest union, bitmap OR, max/min) are unaffected —
    * duplicate partials merge away — which is why the sketch handoff
    * needs no dedup-by-batch_id read filter; non-idempotent consumers
    * (count sums) must dedup on the batch_id column first. */
  def appendBatch(partial: DataFrame, batchId: Long,
                  storeDir: String): Unit =
    partial.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(storeDir)

  /** The EXACTLY-ONCE store write for ONE batch partial: it lands via
    * DYNAMIC PARTITION OVERWRITE into its own `batch_id=` partition
    * instead of a blind append — a replayed batch REPLACES its previous
    * partition byte-for-byte rather than duplicating it, because
    * foreachBatch re-presents the same batch with the same batchId.
    * That makes the store write idempotent and the read path a plain
    * scan — no dedup-by-batch_id filter needed (contrast the
    * append-store consumers). Requires the per-batch transform to be
    * deterministic, which per-batch aggregations are. Only the
    * replayed batch's partition is touched: overwrite mode with
    * partitionOverwriteMode=dynamic deletes nothing outside the
    * partitions present in the written frame. Public so a test (or a
    * recovering pipeline) can re-present a batch through the identical
    * write path and observe the store unchanged. */
  def writeBatchPartition(partial: DataFrame, batchId: Long,
                          storeDir: String): Unit =
    partial
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(storeDir)

  /** The TRANSACTION-LOG store write for ONE batch partial — the third
    * place sink idempotence can live: the partial is written as a data
    * object and then PUBLISHED by a create-exclusive log commit whose
    * version IS the engine's batchId (sources/TxnLog.idempotentCommit —
    * the public Delta-streaming mechanism). A replayed batch (crash
    * between object write and checkpoint commit) rewrites its object in
    * place and then finds its version already committed, so the store is
    * unchanged; a batch that crashed MID-WRITE leaves a half-written
    * object that no commit names — readers resolve the snapshot from the
    * log and never see it. That last property is what neither the append
    * store (read-side dedup) nor the partition store (write-side replace)
    * gives: those readers trust the directory, this one trusts only
    * published commits. Bonus: every prefix of the stream is a readable
    * snapshot (batch-aligned time travel). Returns whether this call was
    * the one that published the version.
    *
    * Schema rides the log: batch 0 DECLARES the sink's schema as the
    * table's `meta` action, and every batch names its write schema —
    * so a mid-stream drift in the sink's output shape (an upstream
    * deploy changing a column type) fails the streaming query loudly at
    * the commit instead of poisoning the store with mixed-schema
    * objects a later reader trips over. A replayed batch skips the
    * check entirely (its version is already committed — idempotence
    * first, like the public Delta txn sink). */
  def publishBatchTxn(partial: DataFrame, batchId: Long,
                      storeRoot: String): Boolean = {
    val obj = s"$storeRoot/batch_$batchId"
    partial.write.mode("overwrite").parquet(obj)
    val js = partial.schema.json
    graft.sources.TxnLog.idempotentCommit(partial.sparkSession,
      s"$storeRoot/_log", batchId, adds = Seq(obj),
      meta = if (batchId == 0) Some(js) else None,
      addsSchema = Some(js))
  }

  /** Stage `df` to a scratch parquet directory (a DISTRIBUTED write) and
    * replay it through [[replayFileSource]] — the production-shaped
    * replacement for the MemoryStream gate: the executors write the staged
    * files and the engine's file source lists and reads them back on the
    * executors; the driver only names the directory. Nothing is ever
    * collected. Swap the scratch directory for an object-store path (or
    * the source for Kafka) and the streaming query is unchanged.
    *
    * The replay drains the staged files into the memory sink before
    * returning, so the directory is removed immediately — the returned
    * frame reads the sink, not the files. */
  def stageAndReplay(spark: SparkSession, df: DataFrame, name: String,
                     mode: String)(transform: DataFrame => DataFrame)
  : DataFrame = {
    val src = scratchDir("stage", name)
    df.write.mode("overwrite").parquet(src)
    try replayFileSource(spark, src, df.schema, name, mode)(transform)
    finally deleteRecursively(src)
  }

  /** The multi-batch twin of [[stageAndReplay]] and the one stager of
    * every CSV replay: write `df` as [[StagedFiles]] CSV files to a
    * scratch directory (a DISTRIBUTED write), hand the directory and
    * `df.schema` to `replay` — [[replayCsvMultiBatch]] for a memory
    * sink, [[replayCsvForeachBatch]] for a store — and delete the
    * directory once `replay` returns. Both replays drain the files
    * before returning, so nothing reads the directory afterwards. */
  def stageCsvAndReplay[A](df: DataFrame, name: String)
                          (replay: (String, StructType) => A): A = {
    val src = scratchDir("stage", name)
    df.repartition(StagedFiles).write.mode("overwrite").csv(src)
    try replay(src, df.schema) finally deleteRecursively(src)
  }

  /** Two-source FILE replay for stream-stream joins: both sides stream
    * from staged parquet directories through the real file source — fully
    * distributed, nothing collected.
    *
    * INNER joins (`watermarkFlush = false`, the default) emit results in
    * the micro-batch where the match is found (the watermark governs state
    * EVICTION, not emission), so the replay is exactly ONE micro-batch:
    * the file source drains each directory into batch 0, the sink has
    * every result row when it commits, and the engine's no-data
    * watermark-advance batch is disabled — it would only clear join state
    * this query is about to discard anyway (~600 ms of incremental
    * re-planning per extra batch). An unbounded production stream keeps
    * no-data batches on (the default) so state is evicted between bursts.
    *
    * OUTER joins (`watermarkFlush = true`) emit their null-padded
    * unmatched rows only once the watermark proves no future match can
    * arrive: callers bake a far-future sentinel row into each staged side
    * (watermarks are computed from the batch max, so in-batch position is
    * irrelevant, and batch 0 runs under the previous watermark — nothing
    * is late-dropped) and the engine's no-data batch then flushes the
    * unmatched rows — a two-micro-batch replay.
    *
    * Two shuffle partitions: a stream-stream join materializes ~5 state
    * stores PER PARTITION, each snapshotted per micro-batch — at
    * kilobytes of state the per-store checkpoint fixed cost dominates,
    * so low partition counts beat parallelism (measured: 2 edges out 1 —
    * batch-0's join work still splits — and beats 4/8). */
  def replayJoinFileSource(spark: SparkSession,
                           leftDir: String, rightDir: String,
                           schema: StructType,
                           name: String,
                           watermarkFlush: Boolean = false)
                          (transform: (DataFrame, DataFrame) => DataFrame)
  : DataFrame = withReplayPartitions(spark, 2) {
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val oldNoData = spark.conf.get(noDataKey)
    spark.conf.set(noDataKey, watermarkFlush.toString)
    try {
      val l = spark.readStream.schema(schema).parquet(leftDir)
      val r = spark.readStream.schema(schema).parquet(rightDir)
      drain(name, transform(l, r).writeStream
        .format("memory").queryName(name).outputMode("append"))
    } finally spark.conf.set(noDataKey, oldNoData)
    spark.table(name)
  }

}
