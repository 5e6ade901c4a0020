package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Task-retry exactness of the custom distributed operators. On a real
  * cluster tasks fail and reschedule routinely (preemption, executor
  * loss, fetch failures); Spark's contract is that a retried task
  * recomputes its partition and the result is as if nothing failed. The
  * built-in operators honor that — these tests prove the ENGINE'S OWN
  * two-pass physical operators (boundary-partials collect + main pass)
  * and the txn-log publish do too, by injecting a deterministic
  * first-attempt failure into an input partition (TestSpark runs
  * `local[4, 2]`, so the second attempt proceeds) and requiring results
  * identical to the clean run.
  *
  * The injection point matters: the failure sits UNDER the operator, so
  * if a two-pass operator materialized its child once for the boundary
  * pass and again for the main pass, any attempt-dependent divergence
  * between the two jobs would corrupt ranks/prefix sums silently. The
  * injected child is content-deterministic (only failure behavior
  * depends on the attempt), which is exactly the contract Spark requires
  * of sources — so the operators must be exact here.
  */
class TaskRetrySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** `df` with a one-shot failure in one input partition: attempt 0 of
    * that partition throws before yielding; the rescheduled attempt
    * succeeds and yields the identical rows. */
  private def failOnce(df: DataFrame, partition: Int): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitionsWithIndex { (i, it) =>
      val tc = org.apache.spark.TaskContext.get()
      if (i == partition && tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(
          s"injected first-attempt failure in partition $i")
      it
    }
    spark.createDataFrame(rdd, schema)
  }

  private def base: DataFrame =
    spark.range(4000).select(
      (col("id") * 2654435761L % 1000003L).as("k"),
      (col("id") % 7 - 3).as("v"))
      .repartition(7)

  test("control: the injection fires and a plain aggregate is retry-exact") {
    val clean = base.agg(sum("v"), count(lit(1))).collect().toSeq
    // the failure actually happens (visible as a lost-task warning) and
    // the job still returns the exact totals
    val got = failOnce(base, 3).agg(sum("v"), count(lit(1))).collect().toSeq
    assert(got == clean)
    // sanity: without retries the same injection would kill the job —
    // pin that the session really allows a second attempt
    assert(spark.sparkContext.getConf.get("spark.master") == "local[4, 2]")
  }

  test("GlobalScan running sum is retry-exact") {
    import graft.plans.GlobalScan
    val clean = GlobalScan.runningSum(base, "v", "k" -> false, "v" -> false)
      .orderBy("k", "v").select("running").as[Long].collect().toSeq
    val got = GlobalScan.runningSum(
        failOnce(base, 2), "v", "k" -> false, "v" -> false)
      .orderBy("k", "v").select("running").as[Long].collect().toSeq
    assert(got == clean)
  }

  test("GlobalRank global ranks are retry-exact") {
    import graft.plans.GlobalRank
    val clean = GlobalRank.ranked(base, "v" -> true, "k" -> false)
      .orderBy("k", "v").select("rank").as[Long].collect().toSeq
    val got = GlobalRank.ranked(failOnce(base, 5), "v" -> true, "k" -> false)
      .orderBy("k", "v").select("rank").as[Long].collect().toSeq
    assert(got == clean)
  }

  test("GlobalFrame sliding aggregate is retry-exact") {
    import graft.plans.{GlobalFrame, ScanKind}
    def run(df: org.apache.spark.sql.DataFrame) =
      GlobalFrame.sliding(df, "v", -3, 2, ScanKind.Sum,
          "k" -> false, "v" -> false)
        .orderBy("k", "v").select("frame").as[Long].collect().toSeq
    assert(run(failOnce(base, 4)) == run(base))
  }

  test("GlobalRecur linear recurrence is retry-exact") {
    import graft.plans.Recurrence
    // unique order key: recurrence output is order-dependent, so ties
    // would make even the clean run ambiguous
    val df = spark.range(4000).select(col("id").as("t"),
      (col("id") % 3 + 1).as("m"), (col("id") % 7).as("c"))
      .repartition(7)
    def run(d: org.apache.spark.sql.DataFrame) =
      Recurrence.scan(d, "m", "c", 1L, "t" -> false)
        .orderBy("t").select("y").as[Long].collect().toSeq
    assert(run(failOnce(df, 2)) == run(df))
  }

  // the window-rule operators have no DataFrame entry point: each runs
  // as the one Global* node of an un-partitioned window. Coalescing is
  // off so the sort keeps several partitions and the boundary carries
  // are non-trivial (ties, shifted rows and range neighbors cross them).
  Seq(
    "GlobalTies" -> rank().over(Window.orderBy("v")),
    "GlobalShift" -> lag("v", 3).over(Window.orderBy("k", "v")),
    "GlobalEdge" -> nth_value(col("k"), 700).over(Window.orderBy("v")),
    "GlobalRange" ->
      sum("v").over(Window.orderBy("k").rangeBetween(-2000, 2000))
  ).foreach { case (node, win) =>
    test(s"$node window is retry-exact") {
      val key = "spark.sql.adaptive.coalescePartitions.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try {
        def run(df: DataFrame) = {
          val q = df.select(col("k"), col("v"), win.as("w"))
          assert(q.queryExecution.executedPlan.toString.contains(node))
          q.orderBy("k", "v").collect().toSeq
        }
        assert(run(failOnce(base, 6)) == run(base))
      } finally spark.conf.set(key, prev)
    }
  }

  test("txn-log publish under an injected write failure: the commit " +
    "publishes once and the snapshot is exact") {
    import graft.sources.TxnLog
    val root = TestSpark.scratchDir("graft-retry-txn").toString
    val ok = graft.streaming.StreamGate.publishBatchTxn(
      failOnce(base, 1), 0L, root)
    assert(ok, "first publish should commit version 0")
    val snap = TxnLog.readSnapshot(spark, s"$root/_log", 0L)
    assert(snap.count() == 4000L)
    assert(snap.agg(sum("v")).as[Long].head() ==
      base.agg(sum("v")).as[Long].head())
  }
}
