package graft

import graft.streaming.{EventStream, StreamGate}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamFunnelSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Replay `rows` through the multi-batch CSV gate and return the final
    * (max-version) snapshot per user as (user, s, v, p, n). */
  private def replay(rows: Seq[(Long, String, Long)], name: String)
  : Map[Long, (Long, Long, Long, Long)] = {
    val sink = StreamGate.stageCsvAndReplay(
      rows.toDF("user_id", "event_type", "t_us"), name)(
      StreamGate.replayCsvMultiBatch(spark, _, _, name, "update")(
        df => EventStream.firstTouchFunnel(
          df.toDF("_1", "_2", "_3").as[(Long, String, Long)]).toDF()))
    sink.groupBy(col("userId"))
      .agg(max(struct(col("ver"), col("s"), col("v"), col("p"), col("n")))
        .as("m"))
      .select(col("userId"), col("m.s"), col("m.v"), col("m.p"), col("m.n"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  private def batchTruth(rows: Seq[(Long, String, Long)])
  : Map[Long, (Long, Long, Long, Long)] =
    rows.groupBy(_._1).map { case (u, rs) =>
      def m(step: String): Long = {
        val ts = rs.filter(_._2 == step).map(_._3)
        if (ts.isEmpty) Long.MaxValue else ts.min
      }
      u -> ((m("signup"), m("view"), m("purchase"), rs.size.toLong))
    }

  test("multi-batch replay equals the batch first-touch answer on a " +
    "shuffled random stream (commutative state)") {
    val rnd = new scala.util.Random(7)
    val steps = Array("signup", "view", "purchase")
    val rows = rnd.shuffle(Seq.fill(5000) {
      (rnd.nextLong(40), steps(rnd.nextInt(3)), rnd.nextLong(100000))
    })
    assert(replay(rows, "funnel_spec_a") == batchTruth(rows))
  }

  test("duplicate timestamps and single-step users resolve " +
    "deterministically") {
    val rows = Seq(
      (1L, "signup", 100L), (1L, "signup", 100L), (1L, "view", 100L),
      (2L, "view", 50L), (2L, "purchase", 60L), // no signup: steps stay 0
      (3L, "signup", 10L), (3L, "view", 20L), (3L, "purchase", 30L))
    val got = replay(rows, "funnel_spec_b")
    assert(got(1L) == ((100L, 100L, Long.MaxValue, 3L)))
    assert(got(2L) == ((Long.MaxValue, 50L, 60L, 2L)))
    assert(got(3L) == ((10L, 20L, 30L, 3L)))
  }

  test("reversed arrival order yields the identical final snapshot") {
    val steps = Array("signup", "view", "purchase")
    val rows = Seq.tabulate(600) { i =>
      ((i % 9).toLong, steps(i % 3), (1000 - i).toLong)
    }
    assert(replay(rows, "funnel_spec_c") ==
      replay(rows.reverse, "funnel_spec_d"))
  }
}
