package graft

import graft.streaming.{EventStream, StreamGate}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamBitmapSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Replay through the multi-batch CSV gate; return (per-key distinct
    * totals from max-version snapshots, all emitted snapshots). */
  private def replay(rows: Seq[(String, Long)], name: String)
  : (Map[String, Long], Seq[(String, Long, Long, Long)]) = {
    val sink = StreamGate.stageCsvAndReplay(rows.toDF("k", "v"), name)(
      StreamGate.replayCsvMultiBatch(spark, _, _, name, "update")(
        df => EventStream.bitmapDistinct(
          df.toDF("_1", "_2").as[(String, Long)]).toDF()))
    val snaps = sink.select("key", "bucket", "distinct", "ver")
      .as[(String, Long, Long, Long)].collect().toSeq
    val totals = sink.groupBy(col("key"), col("bucket"))
      .agg(max(struct(col("ver"), col("distinct"))).as("m"))
      .groupBy(col("key")).agg(sum(col("m.distinct")).as("n"))
      .as[(String, Long)].collect().toMap
    (totals, snaps)
  }

  test("multi-batch replay with heavy duplication equals exact distinct; " +
    "versions grow across batches") {
    val rnd = new scala.util.Random(3)
    // values straddle several 2^15 buckets and include negatives
    val rows = Seq.fill(20000)(
      (s"k${rnd.nextInt(3)}", rnd.nextLong(100000) - 50000))
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.map(_._2).distinct.size.toLong }
    val (got, snaps) = replay(rows, "bm_spec_a")
    assert(got == want)
    // true multi-batch replay: some (key, bucket) state emitted > once
    assert(snaps.groupBy(s => (s._1, s._2)).exists(_._2.length > 1),
      s"replay collapsed to one batch")
    // popcounts are monotone in version per (key, bucket): OR-only state
    snaps.groupBy(s => (s._1, s._2)).foreach { case (_, ss) =>
      val byVer = ss.sortBy(_._4).map(_._3)
      assert(byVer == byVer.sorted, s"popcount not monotone: $ss")
    }
  }

  test("idempotence: re-delivering the whole stream changes nothing") {
    val rows = Seq.tabulate(500)(i => ("a", (i % 90).toLong))
    val (once, _) = replay(rows, "bm_spec_b")
    val (twice, _) = replay(rows ++ rows, "bm_spec_c")
    assert(once == twice && once("a") == 90L)
  }

  test("bucket boundary values land in distinct buckets") {
    val bits = 1L << 15
    val rows = Seq(("x", bits - 1), ("x", bits), ("x", -1L), ("x", 0L))
    val (totals, snaps) = replay(rows, "bm_spec_d")
    assert(totals("x") == 4L)
    assert(snaps.map(_._2).distinct.size == 3) // buckets -1, 0, 1
  }
}
