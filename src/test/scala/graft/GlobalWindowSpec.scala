package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mixed-family global windows: ONE un-partitioned ORDER BY projecting
  * rank / tie ranks / offsets / edge values / prefix + sliding aggregates
  * together must compose the two-pass family operators onto one shared
  * sort (GlobalWindowRule) — and match, bit for bit, the native window
  * semantics. The native oracle is the same query over a NON-FOLDABLE
  * always-zero partition key: semantically identical (one partition
  * holds everything), never rewritten, and pinned to actually run
  * WindowExec (see `assertNative`). */
class GlobalWindowSpec extends AnyFunSuite {
  import TestSpark.spark

  private val gw = org.apache.spark.sql.expressions.Window
    .orderBy(col("t"), col("id"))
  // NON-FOLDABLE always-zero partition key: the optimizer eliminates
  // foldable window partitions, which would turn a partitionBy(lit(0))
  // twin into the very un-partitioned shape under test (self-compare).
  private val nw = org.apache.spark.sql.expressions.Window
    .partitionBy(pmod(col("id"), lit(1))).orderBy(col("t"), col("id"))
  private def assertNative(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window") && !p.contains("Global"),
      s"the native twin must run WindowExec, not the operators under " +
        s"test:\n$p")
  }
  private def unbounded(
      w: org.apache.spark.sql.expressions.WindowSpec) =
    w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)

  // ties in t (t = id/4), nulls in v — exercises tie chains, null
  // skipping and boundary splices across 11 partitions at once
  private def input = spark.range(0, 3000).select(
    col("id"),
    (col("id") / 4).cast("long").as("t"),
    when(col("id") % 7 =!= 0, (col("id") * 31) % 997).as("v"))
    .repartition(11)

  private def mixed(w: org.apache.spark.sql.expressions.WindowSpec) =
    input.select(col("id"), col("t"), col("v"),
      row_number().over(w).cast("long").as("rn"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      sum(col("v")).over(unbounded(w)).as("run_total"),
      lag(col("v"), 1).over(w).as("prev_v"),
      first(col("v")).over(unbounded(w)).as("first_v"),
      avg(col("v")).over(w.rowsBetween(-3, 0)).as("mov_avg"))

  test("six families in one window: composed stack matches the native " +
    "window and plans one shared sort, no single-partition stage") {
    assertNative(mixed(nw))
    val got = mixed(gw).orderBy("id").collect().toSeq
    val native = mixed(nw).orderBy("id").collect().toSeq
    assert(got == native)

    val plan = mixed(gw).queryExecution.executedPlan.toString
    Seq("GlobalScan", "GlobalFrame", "GlobalTies",
      "GlobalEdge").foreach(n =>
      assert(plan.contains(n), s"stack lost its $n member:\n$plan"))
    // the null-default lag rides the FRAME node as a 1-row detached
    // frame — no standalone shift operator in this stack
    assert(!plan.contains("GlobalShift"),
      s"null-default lag must fuse into the frame node:\n$plan")
    assert("GlobalFrame".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Window"),
      s"mixed window fell back to WindowExec:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse to a single partition:\n$plan")
    // the whole stack shares ONE range exchange + ONE sort
    assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 1,
      s"stack must share one exchange:\n$plan")
    assert("Sort ".r.findAllIn(plan).size == 1,
      s"stack must share one sort:\n$plan")
    // ALL THREE rank-family functions (row_number + rank + dense_rank)
    // fuse into ONE multi-kind ties node — one persist, one pass-pair
    assert("GlobalTies".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("GlobalRankExec"),
      s"row_number must ride the fused ties node, not its own:\n$plan")
  }

  test("two-family mix (rank + lag), no aggregates") {
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        rank().over(w).cast("long").as("rnk"),
        lag(col("v"), 2, -1L).over(w).as("prev2"))
    assertNative(q(nw))
    assert(q(gw).orderBy("id").collect().toSeq ==
      q(nw).orderBy("id").collect().toSeq)
    val plan = q(gw).queryExecution.executedPlan.toString
    assert(plan.contains("GlobalTies") && plan.contains("GlobalShift"),
      plan)
    assert(!plan.contains("Window"), plan)
  }

  test("value-RANGE member composes with rank + running sum onto the " +
    "same shared sort") {
    // single-key order (the range member requires it); every projected
    // function is a function of the key alone, so ties stay
    // deterministic
    val kw = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
    val kn = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("id"), lit(1))).orderBy(col("t"))
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        rank().over(w).cast("long").as("rnk"),
        sum(col("v")).over(w).as("run_total"),
        sum(col("v")).over(w.rangeBetween(-10, 0)).as("s10"),
        count(col("v")).over(w.rangeBetween(-10, 0)).as("c10"))
    assertNative(q(kn))
    assert(q(kw).orderBy("id").collect().toSeq ==
      q(kn).orderBy("id").collect().toSeq)
    val plan = q(kw).queryExecution.executedPlan.toString
    Seq("GlobalTies", "GlobalScan", "GlobalRange").foreach(n =>
      assert(plan.contains(n), s"stack lost its $n member:\n$plan"))
    assert(!plan.contains("Window"), plan)
    assert("Sort ".r.findAllIn(plan).size == 1 &&
      "ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 1,
      s"range-bearing stack must share one exchange + sort:\n$plan")
  }

  test("a basket of null-default offsets (lag(1) + lag(7) + lead(2)) " +
    "fuses into ONE frame node — plus rank to make the shape mixed") {
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        rank().over(w).cast("long").as("rnk"),
        lag(col("v"), 1).over(w).as("p1"),
        lag(col("v"), 7).over(w).as("p7"),
        lead(col("v"), 2).over(w).as("n2"))
    assertNative(q(nw))
    assert(q(gw).orderBy("id").collect().toSeq ==
      q(nw).orderBy("id").collect().toSeq)
    val plan = q(gw).queryExecution.executedPlan.toString
    // all three offsets are 1-row detached frames of one fused node
    assert("GlobalFrame".r.findAllIn(plan).size == 1 &&
      !plan.contains("GlobalShift"), plan)
    assert(!plan.contains("Window"), plan)
    assert("Sort ".r.findAllIn(plan).size == 1 &&
      "ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 1,
      s"the offset stack must share one exchange + sort:\n$plan")
  }

  test("ignore-nulls / defaulted offsets keep their own shift node " +
    "(frames cannot express them)") {
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        rank().over(w).cast("long").as("rnk"),
        lag(col("v"), 1, null, true).over(w).as("locf"),
        lag(col("v"), 2, -1L).over(w).as("p2d"))
    assertNative(q(nw))
    assert(q(gw).orderBy("id").collect().toSeq ==
      q(nw).orderBy("id").collect().toSeq)
    val plan = q(gw).queryExecution.executedPlan.toString
    assert("GlobalShift".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("reversed members (cume_dist + ignore-nulls lead) stack over ONE " +
    "shared reversed sort above the forward stack") {
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        rank().over(w).cast("long").as("rnk"),
        cume_dist().over(w).as("cd"),
        sum(col("v")).over(unbounded(w)).as("run_total"),
        lead(col("v"), 1, null, true).over(w).as("next_valid"),
        lead(col("v"), 3, null, true).over(w).as("next3_valid"))
    assertNative(q(nw))
    assert(q(gw).orderBy("id").collect().toSeq ==
      q(nw).orderBy("id").collect().toSeq)
    val plan = q(gw).queryExecution.executedPlan.toString
    // forward: one scan + one ties; reversed: one cume ties + two
    // reversed-lag shifts — all reversed members share ONE extra sort
    assert("GlobalTies".r.findAllIn(plan).size == 2,
      s"expected the forward ties node AND the reversed cume node:\n$plan")
    assert("GlobalShift".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("GlobalScan"), plan)
    assert(!plan.contains("Window"),
      s"the reversed members must compose, not fall back:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 2 &&
      "Sort ".r.findAllIn(plan).size == 2,
      s"expected the forward sort + ONE shared reversed sort:\n$plan")
  }

  test("an all-reversed window (cume_dist + ignore-nulls lead) needs " +
    "only the single reversed sort") {
    def q(w: org.apache.spark.sql.expressions.WindowSpec) =
      input.select(col("id"),
        cume_dist().over(w).as("cd"),
        lead(col("v"), 1, null, true).over(w).as("next_valid"))
    assertNative(q(nw))
    assert(q(gw).orderBy("id").collect().toSeq ==
      q(nw).orderBy("id").collect().toSeq)
    val plan = q(gw).queryExecution.executedPlan.toString
    assert(plan.contains("GlobalTies") && plan.contains("GlobalShift"),
      plan)
    assert(!plan.contains("Window"), plan)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 1 &&
      "Sort ".r.findAllIn(plan).size == 1,
      s"an all-reversed stack shares one reversed exchange + sort:\n$plan")
  }

  test("all-aggregate windows stay with the fused scan/frame rules " +
    "(this rule only composes mixed shapes)") {
    def q = input.select(col("id"),
      sum(col("v")).over(unbounded(gw)).as("s"),
      count(col("v")).over(unbounded(gw)).as("c"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalScan") &&
      "GlobalScan".r.findAllIn(plan).size == 1,
      s"all-prefix window must stay one fused GlobalScan:\n$plan")
  }
}
