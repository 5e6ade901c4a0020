package graft

import graft.plans.GlobalRange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded value-RANGE frames over an un-partitioned numeric ORDER BY:
  * GlobalRangeRule must plan the key-spliced GlobalRange operator (no
  * single-partition stage) and match the native window bit for bit. The
  * native oracle is the same query over a NON-FOLDABLE always-zero
  * partition key — semantically identical, never rewritten, and pinned
  * to actually run WindowExec (see `assertNative`). */
class GlobalRangeSpec extends AnyFunSuite {
  import TestSpark.spark

  private val gw = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
  // The native twin partitions by a NON-FOLDABLE always-zero key:
  // Spark's optimizer ELIMINATES foldable window partitions (a
  // partitionBy(lit(0)) twin becomes un-partitioned and is rewritten by
  // the very rules under test — a self-comparison that hides bugs; a
  // micros-vs-seconds key bug really did slip through it). pmod(id, 1)
  // survives optimization, keeps the partition spec non-empty, and
  // `assertNative` pins that the twin truly ran WindowExec.
  private val nw = org.apache.spark.sql.expressions.Window
    .partitionBy(pmod(col("id"), lit(1))).orderBy(col("t"))
  private def assertNative(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window") && !p.contains("GlobalRange"),
      s"the native twin must run WindowExec, not the operator under " +
        s"test:\n$p")
  }

  // sparse + plateau-heavy keys: runs of identical t (peers), gaps wider
  // than the range, nulls in v — across 11 partitions
  private def input = spark.range(0, 4000).select(
    col("id"),
    // key advances irregularly: plateaus of 5, then jumps of 1/3/40
    // (integer `div`, not `/` — float division would make the key a
    // DOUBLE and the rule correctly keeps doubles on WindowExec)
    expr("id div 5 * 3 + (id div 100) * 40").as("t"),
    when(col("id") % 7 =!= 0, (col("id") * 31) % 997).as("v"))
    .repartition(11)

  private def q(w: org.apache.spark.sql.expressions.WindowSpec,
                lo: Long, hi: Long) =
    input.select(col("id"), col("t"),
      sum(col("v")).over(w.rangeBetween(lo, hi)).as("s"),
      count(col("v")).over(w.rangeBetween(lo, hi)).as("c"),
      count(lit(1)).over(w.rangeBetween(lo, hi)).as("n"),
      min(col("v")).over(w.rangeBetween(lo, hi)).as("mn"),
      max(col("v")).over(w.rangeBetween(lo, hi)).as("mx"),
      avg(col("v")).over(w.rangeBetween(lo, hi)).as("a"),
      // a non-Long extremum: reversed digits order unlike the numbers
      min(reverse(col("v").cast("string")))
        .over(w.rangeBetween(lo, hi)).as("smn"),
      max(reverse(col("v").cast("string")))
        .over(w.rangeBetween(lo, hi)).as("smx"))

  private def check(lo: Long, hi: Long): Unit = {
    assertNative(q(nw, lo, hi))
    val got = q(gw, lo, hi).orderBy("id").collect().toSeq
    val native = q(nw, lo, hi).orderBy("id").collect().toSeq
    assert(got == native, s"range [$lo, $hi] diverged from native")
    val plan = q(gw, lo, hi).queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRange"),
      s"range [$lo, $hi] not rewritten:\n$plan")
    assert(!plan.contains("Window"), s"range [$lo, $hi] kept a Window:\n$plan")
    assert("GlobalRange".r.findAllIn(plan).size == 1,
      s"range [$lo, $hi]: expected one fused node:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("trailing x PRECEDING .. CURRENT ROW matches native (ties incl. " +
    "following peers)") { check(-10L, 0L) }

  test("centered and lookahead value frames match native") {
    check(-6L, 9L)
    check(0L, 12L)
  }

  test("detached frames (can be EMPTY: strictly preceding / following) " +
    "match native incl. NULL/0 on empty") {
    check(-20L, -3L)
    check(3L, 20L)
  }

  test("peers-only frame (0,0) = tie-group aggregates match native") {
    check(0L, 0L)
  }

  test("range wider than partitions: boundary splice walks across " +
    "several short partitions") {
    val got = q(gw, -300L, 0L)
    val native = q(nw, -300L, 0L)
    assertNative(native)
    assert(got.orderBy("id").collect().toSeq ==
      native.orderBy("id").collect().toSeq)
  }

  test("single-partition input and empty input degrade cleanly") {
    val one = spark.range(0, 50).select(col("id"), col("id").as("t"),
      (col("id") % 9).as("v")).coalesce(1)
    def qq(w: org.apache.spark.sql.expressions.WindowSpec) =
      one.select(col("id"),
        sum(col("v")).over(w.rangeBetween(-3, 0)).as("s"))
    assertNative(qq(nw))
    assert(qq(gw).orderBy("id").collect().toSeq ==
      qq(nw).orderBy("id").collect().toSeq)
    val empty = one.where(lit(false))
    assert(empty.select(
      sum(col("v")).over(gw.rangeBetween(-3, 0)).as("s")).count() == 0L)
  }

  test("ANSI sum raises on in-frame overflow exactly like the native " +
    "window; legacy wraps identically") {
    val big = spark.range(0, 100).select(col("id"), col("id").as("t"),
      // non-foldable constant value: Long.MaxValue/2 + (id % 1) keeps
      // the optimizer from folding while every frame of >= 3 rows
      // overflows Long
      (lit(Long.MaxValue / 2) + col("id") % 1).as("v"))
    def qs(w: org.apache.spark.sql.expressions.WindowSpec) = big.select(
      sum(col("v")).over(w.rangeBetween(-5, 0)).as("s"))
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    try {
      // legacy: wrapping results must still match native bit for bit
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val gotLegacy = qs(gw)
      assert(gotLegacy.queryExecution.executedPlan.toString
        .contains("GlobalRange"))
      assertNative(qs(nw))
      assert(gotLegacy.collect().toSeq.map(_.getLong(0)).sorted ==
        qs(nw).collect().toSeq.map(_.getLong(0)).sorted)
      // ANSI: the rewritten frame must raise, like the native window
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val gotAnsi = qs(gw)
      assert(gotAnsi.queryExecution.executedPlan.toString
        .contains("GlobalRange"))
      val e = intercept[Throwable] { gotAnsi.collect() }
      assert(msgs(e).exists(m => m.toLowerCase.contains("overflow")),
        s"expected an overflow raise, got: ${msgs(e).mkString(" | ")}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("null keys form their own peer group (SQL range semantics) and " +
    "still rewrite — incl. a null group spanning partitions") {
    // ~400 null keys sort first and span range partitions; their frame
    // must be exactly the null peer group for EVERY frame shape, and
    // non-null frames must never include them
    def nk = spark.range(0, 2000).select(col("id"),
      when(col("id") % 5 =!= 0, expr("id div 3")).as("t"),
      when(col("id") % 7 =!= 0, (col("id") * 31) % 997).as("v"))
      .repartition(7)
    for ((lo, hi) <- Seq((-2L, 0L), (-6L, 9L), (3L, 20L))) {
      def qq(w: org.apache.spark.sql.expressions.WindowSpec) =
        nk.select(col("id"), col("t"),
          sum(col("v")).over(w.rangeBetween(lo, hi)).as("s"),
          count(lit(1)).over(w.rangeBetween(lo, hi)).as("n"),
          min(col("v")).over(w.rangeBetween(lo, hi)).as("mn"),
          avg(col("v")).over(w.rangeBetween(lo, hi)).as("a"))
      assertNative(qq(nw))
      val got = qq(gw).orderBy("id").collect().toSeq
      val native = qq(nw).orderBy("id").collect().toSeq
      assert(got == native, s"null-key range [$lo, $hi] diverged")
      val plan = qq(gw).queryExecution.executedPlan.toString
      assert(plan.contains("GlobalRange"),
        s"nullable key must still rewrite:\n$plan")
      assert(!plan.contains("Window"), plan)
    }
  }

  test("timestamp ORDER BY with INTERVAL bounds matches native and " +
    "rewrites (micros precision, not seconds)") {
    // timestamps 137 ms apart: a 1-second trailing interval holds ~8
    // rows — sub-second precision would be destroyed by a seconds cast
    def td = spark.range(0, 3000).select(col("id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 137000L)
        .as("ts"),
      when(col("id") % 7 =!= 0, (col("id") * 31) % 997).as("v"))
      .repartition(9)
    def qq(part: String) = td.selectExpr("id",
      s"sum(v) OVER (${part}ORDER BY ts RANGE BETWEEN INTERVAL '1' " +
        "SECOND PRECEDING AND CURRENT ROW) AS s",
      s"count(v) OVER (${part}ORDER BY ts RANGE BETWEEN INTERVAL '1' " +
        "SECOND PRECEDING AND CURRENT ROW) AS c")
    // non-foldable always-zero partition key (see assertNative note)
    assertNative(qq("PARTITION BY id % 1 "))
    val got = qq("").orderBy("id").collect().toSeq
    val native = qq("PARTITION BY id % 1 ").orderBy("id").collect().toSeq
    assert(got == native, "interval range diverged from native")
    val plan = qq("").queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRange"),
      s"timestamp interval range not rewritten:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("boundary wider than MaxBoundary throws loudly, not wrongly") {
    // a range covering the whole key span: every partition's ENTIRE row
    // set is within frame reach of its last key, so the final tail
    // capture of any non-last partition exceeds the cap (partitions
    // hold ~n/4 rows at 4 shuffle partitions — well past MaxBoundary)
    val n = GlobalRange.MaxBoundary * 5L
    val dense = spark.range(0, n).select(
      col("id"), col("id").as("t"), (col("id") % 5).as("v"))
      .repartition(7)
    // AQE coalesces a tiny shuffle to ONE partition (no boundary at
    // all) — pin several post-sort partitions so the capture actually
    // crosses a boundary, as it would at real scale
    val coalesceWas =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    val e = try intercept[Exception] {
      dense.select(col("id"),
        sum(col("v")).over(gw.rangeBetween(-n, 0)).as("s")).collect()
    } finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", coalesceWas)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("boundary blow-up")),
      s"expected the loud cap, got: ${messages(e).mkString(" | ")}")

    // a key plateau, by contrast, RANGE-PARTITIONS onto one partition
    // (equal keys colocate) and is handled locally — no boundary ships,
    // no spurious throw, results match native
    val plateau = spark.range(0, GlobalRange.MaxBoundary * 2L).select(
      col("id"), greatest(lit(7L), col("id") % 2).as("t"),
      (col("id") % 5).as("v")).repartition(4)
    def pq(w: org.apache.spark.sql.expressions.WindowSpec) =
      plateau.select(col("id"),
        sum(col("v")).over(w.rangeBetween(-1, 0)).as("s"))
    assertNative(pq(nw))
    assert(pq(gw).orderBy("id").collect().toSeq ==
      pq(nw).orderBy("id").collect().toSeq)
  }
}
