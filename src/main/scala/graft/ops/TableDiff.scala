package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merkle-style two-phase table diff — find every inserted / deleted /
  * modified key between two versions of a table WITHOUT row-joining the
  * (overwhelmingly equal) bulk.
  *
  * Phase 1 reduces each side to `buckets` checksum rows: per key-bucket,
  * a 60-bit XOR of row content hashes plus the row count. XOR is
  * order-independent and overflow-free (no ANSI sum traps), and the
  * per-bucket partial aggregates mean the shuffle carries `buckets` rows
  * per side — diffing two 100 TB replicas costs two scans plus a
  * constant-size exchange. A bucket whose (xor, count) matches on both
  * sides is provably identical up to a 2^-60 XOR collision among its
  * changed rows (the standard merkle-tree trade; document, don't fear).
  *
  * Phase 2 row-compares ONLY the differing buckets: the changed bucket
  * ids (<= `buckets`, driver-bounded) filter both sides below the join,
  * then a full-outer join on the key classifies each difference. At
  * production diff densities (parts-per-million drift) phase 2 touches a
  * vanishing fraction of rows; at worst it degrades to the naive join.
  *
  * Inputs must be (key, val) with one row per key (a keyed replica).
  * Returns (key, change) with change in {inserted, deleted, modified} —
  * exactly the symmetric difference a naive full-outer join computes. */
object TableDiff {

  /** 60-bit content hash: first 15 md5 hex chars of "key|val" — fits a
    * long with no sign traps, and any ANSI-ish engine re-derives it
    * (DuckDB: ('0x' || substr(md5(..), 1, 15))::UBIGINT). */
  private def rowHash(key: Column, value: Column): Column =
    conv(substring(md5(concat_ws("|", key, value).cast("binary")), 1, 15),
      16, 10).cast("long")

  private def checksums(df: DataFrame, buckets: Int): DataFrame =
    df.select(pmod(col("key"), lit(buckets.toLong)).as("bucket"),
        rowHash(col("key"), col("val")).as("h"))
      .groupBy("bucket")
      .agg(bit_xor(col("h")).as("x"), count(lit(1)).as("c"))

  /** The diff. `oldDf`/`newDf` must have columns (key: long, val). */
  def merkleDiff(oldDf: DataFrame, newDf: DataFrame, buckets: Int = 256)
  : DataFrame = {
    val a = checksums(oldDf, buckets)
    val b = checksums(newDf, buckets)
    // differing buckets: xor or count mismatch, or bucket only on one side
    val changed = a.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket"), "full_outer")
      .where(col("a.bucket").isNull || col("b.bucket").isNull ||
        col("a.x") =!= col("b.x") || col("a.c") =!= col("b.c"))
      .select(coalesce(col("a.bucket"), col("b.bucket")).as("bucket"))
      .collect().map(_.getLong(0)) // bounded: <= `buckets` rows
    // identical replicas: no differing buckets, nothing to row-compare
    // (an empty IN-list doesn't analyze; use a constant-false filter)
    val bkt = (df: DataFrame) =>
      if (changed.isEmpty) df.where(lit(false))
      else df.where(pmod(col("key"), lit(buckets.toLong))
        .isin(changed.toIndexedSeq: _*))
    bkt(oldDf).select(col("key").as("k1"), col("val").as("v1"))
      .join(bkt(newDf).select(col("key").as("k2"), col("val").as("v2")),
        col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("k1"), col("k2")).as("key"),
        when(col("k1").isNull, "inserted")
          .when(col("k2").isNull, "deleted")
          .when(col("v1") =!= col("v2"), "modified").as("change"))
      .where(col("change").isNotNull)
  }
}
