package graft

import graft.streaming.StreamGate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stream-to-store handoff's failure-mode contracts, proven at the
  * store level: foreachBatch is AT-LEAST-ONCE (a crash between the
  * store write and the checkpoint commit re-presents the batch), so
  *  - the APPEND store duplicates the replayed batch's partial, and a
  *    non-idempotent consumer (count/sum) must dedup by batch_id at
  *    read — injected here and proven to still serve exact totals;
  *  - the PARTITIONED store (dynamic partition overwrite) REPLACES the
  *    replayed batch's partition, leaving the store byte-identical, so
  *    the plain no-dedup read stays exact — idempotence lives in the
  *    write path instead.
  */
class HandoffSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def perBatch(df: DataFrame): DataFrame =
    df.groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))

  private val rows = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L),
    ("c", 5L), ("a", 6L), ("c", 7L), ("b", 8L))
  private val want = rows.groupBy(_._1).map { case (k, vs) =>
    (k, vs.size.toLong, vs.map(_._2).sum) }.toSet

  /** Stage `rows` through the CSV stager (one micro-batch per staged
    * file) and hand each batch's partial to the store write `write`. */
  private def replayInto(store: String, name: String)
                        (write: (DataFrame, Long, String) => Unit): Unit =
    StreamGate.stageCsvAndReplay(rows.toDF("k", "v"), name)(
      StreamGate.replayCsvForeachBatch(spark, _, _, name)(
        (df, id) => write(perBatch(df), id, store)))

  private def dedupRead(store: String): Set[(String, Long, Long)] =
    spark.read.parquet(store)
      .groupBy(col("batch_id"), col("k"))
      .agg(max("cnt").as("cnt"), max("sv").as("sv"))
      .groupBy("k").agg(sum("cnt").as("n"), sum("sv").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("append store: duplicated batch append survives the dedup read") {
    val store = StreamGate.scratchDir("stage", "alo-store")
    try {
      replayInto(store, "handoff_alo")(StreamGate.appendBatch)
      val before = spark.read.parquet(store).count()
      assert(dedupRead(store) == want)
      // inject the failure mode: re-append one batch's partial
      val someBatch = spark.read.parquet(store)
        .agg(min(col("batch_id")).cast("long")).head().getLong(0)
      spark.read.parquet(store).where(col("batch_id") === someBatch)
        .write.mode("append").parquet(store)
      // the duplication REALLY happened at the store level...
      assert(spark.read.parquet(store).count() > before)
      // ...and the naive no-dedup read would now be WRONG
      val naive = spark.read.parquet(store)
        .groupBy("k").agg(sum("cnt").as("n"), sum("sv").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(naive != want, "duplicate should corrupt the naive read")
      // the dedup-by-batch_id read still serves exact totals
      assert(dedupRead(store) == want)
    } finally StreamGate.deleteRecursively(store)
  }

  test("partitioned store: replayed batch replaces its partition; the " +
    "plain read stays exact") {
    val store = StreamGate.scratchDir("stage", "eo-store")
    try {
      replayInto(store, "handoff_eo")(StreamGate.writeBatchPartition)
      def snapshot() = spark.read.parquet(store)
        .collect().map(_.toSeq).toSet
      val before = snapshot()
      // replay one batch through the identical write path
      val someBatch = spark.read.parquet(store)
        .agg(min(col("batch_id")).cast("long")).head().getLong(0)
      StreamGate.writeBatchPartition(
        spark.read.parquet(store)
          .where(col("batch_id") === someBatch).drop("batch_id"),
        someBatch, store)
      // idempotent: the store is unchanged row-for-row
      assert(snapshot() == before)
      // and the PLAIN read (no dedup anywhere) serves exact totals
      val got = spark.read.parquet(store)
        .groupBy("k").agg(sum("cnt").as("n"), sum("sv").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want)
    } finally StreamGate.deleteRecursively(store)
  }

  test("partitioned store: a replayed batch with corrected content " +
    "replaces, not duplicates") {
    // the dynamic-overwrite contract also covers REPROCESSING: writing
    // different content for an existing batch_id swaps that partition
    val store = StreamGate.scratchDir("stage", "eo-swap")
    try {
      StreamGate.writeBatchPartition(
        Seq(("a", 1L, 1L)).toDF("k", "cnt", "sv"), 0L, store)
      StreamGate.writeBatchPartition(
        Seq(("b", 2L, 2L)).toDF("k", "cnt", "sv"), 1L, store)
      // rewrite batch 0 with corrected content
      StreamGate.writeBatchPartition(
        Seq(("a", 9L, 9L)).toDF("k", "cnt", "sv"), 0L, store)
      val got = spark.read.parquet(store)
        .select(col("k"), col("cnt"), col("sv"),
          col("batch_id").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == Set(("a", 9L, 9L, 0L), ("b", 2L, 2L, 1L)))
    } finally StreamGate.deleteRecursively(store)
  }
}
