package graft

import graft.plans.{GlobalFrame, ScanKind}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalFrameSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
  // Native twin: a NON-FOLDABLE always-zero partition key. The session's
  // extensions keep every Global* rule active, and the optimizer
  // ELIMINATES foldable window partitions — a partitionBy(lit(0)) twin
  // would compare the operator against itself. pmod(t, 1) survives optimization; assertNative pins
  // that the twin truly ran WindowExec.
  private val wN = org.apache.spark.sql.expressions.Window
    .partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"))
  private def frame(k: Int) = w.rowsBetween(-k, 0)

  private type WS = org.apache.spark.sql.expressions.WindowSpec

  /** Native WindowExec result (non-foldable-partition twin, plan-pinned
    * native) vs the rewritten plan + result; asserts the rewrite fired
    * on the un-partitioned side. */
  private def nativeVsRewritten(build: WS => org.apache.spark.sql.DataFrame,
      sortCols: String*): (Seq[org.apache.spark.sql.Row],
      Seq[org.apache.spark.sql.Row], String) = {
    val nq = build(wN)
    val nplan = nq.queryExecution.executedPlan.toString
    assert(nplan.contains("Window") && !nplan.contains("GlobalFrame"),
      s"the native twin must run WindowExec:\n$nplan")
    val native = nq.orderBy(sortCols.map(col): _*).collect().toSeq
    val q = build(w)
    val plan = q.queryExecution.executedPlan.toString
    val got = q.orderBy(sortCols.map(col): _*).collect().toSeq
    (native, got, plan)
  }

  test("sliding sum/count/min/max/avg over many partitions match the " +
    "native window bit-for-bit") {
    val n = 4000
    val df = spark.range(n).select(col("id").as("t"),
      (col("id") * 31 % 1009).as("v")).repartition(13)
    for (k <- Seq(1, 7, 250)) {
      def q(b: WS) = df.select(col("t"),
        sum(col("v")).over(b.rowsBetween(-k, 0)).as("s"),
        count(col("v")).over(b.rowsBetween(-k, 0)).as("c"),
        min(col("v")).over(b.rowsBetween(-k, 0)).as("mn"),
        max(col("v")).over(b.rowsBetween(-k, 0)).as("mx"),
        avg(col("v")).over(b.rowsBetween(-k, 0)).as("a"))
      val (native, got, plan) = nativeVsRewritten(q, "t")
      assert(plan.contains("GlobalFrame"), s"k=$k not rewritten:\n$plan")
      assert(!plan.contains("Window"), s"k=$k kept a Window:\n$plan")
      // one fused frame node over one exchange + sort
      assert("GlobalFrame".r.findAllIn(plan).size == 1, plan)
      assert(got == native, s"k=$k")
    }
  }

  test("an ALL-offset window (multi-lag/lead, null defaults) fuses into " +
    "ONE frame node and matches the native twin") {
    // previously this shape fell between the single-member GlobalShiftRule
    // and the mixed-only GlobalWindowRule and kept a single-partition
    // WindowExec; parseFrame's offset conversion makes FrameRule own it.
    // Nulls in v exercise the respect-nulls fidelity of the min-over-
    // detached-frame encoding (a present-but-null row must yield null).
    val n = 3000
    val df = spark.range(n).select(col("id").as("t"),
      when(col("id") % 7 =!= 0, col("id") * 17 % 501).as("v"))
      .repartition(11)
    def q(b: WS) = df.select(col("t"),
      lag(col("v"), 1).over(b).as("l1"),
      lag(col("v"), 3).over(b).as("l3"),
      lead(col("v"), 2).over(b).as("d2"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(!plan.contains("Window") && !plan.contains("GlobalShift"), plan)
    assert("GlobalFrame".r.findAllIn(plan).size == 1, plan)
    assert(got == native)
  }

  test("boundary wider than any partition: k spans several short " +
    "partitions") {
    val n = 3000
    val df = spark.range(n).select(col("id").as("t"),
      (col("id") % 97).as("v")).repartition(50) // ~60 rows per partition
    def q(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(-500, 0)).as("s"),
      min(col("v")).over(b.rowsBetween(-500, 0)).as("mn"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(got == native)
  }

  test("nulls in the value column: sum/min/avg skip them, count excludes " +
    "them, count(*) does not, all-null frames are NULL") {
    val df = Seq[(Long, Option[Long])](
      (1L, Some(5L)), (2L, None), (3L, None), (4L, None),
      (5L, Some(2L)), (6L, None), (7L, Some(9L)), (8L, None))
      .toDF("t", "v").repartition(3)
    def q(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(-2, 0)).as("s"),
      count(col("v")).over(b.rowsBetween(-2, 0)).as("c"),
      count(lit(1)).over(b.rowsBetween(-2, 0)).as("n"),
      min(col("v")).over(b.rowsBetween(-2, 0)).as("mn"),
      avg(col("v")).over(b.rowsBetween(-2, 0)).as("a"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(got == native)
    // spot-check the all-null frame at t=4 (frame rows 2..4)
    val r4 = got.find(_.getLong(0) == 4L).get
    assert(r4.isNullAt(1) && r4.getLong(2) == 0L && r4.getLong(3) == 3L &&
      r4.isNullAt(4) && r4.isNullAt(5))
  }

  test("generic extrema: sliding min/max over strings") {
    val df = Seq((1L, "pear"), (2L, "apple"), (3L, "quince"), (4L, "fig"),
      (5L, "olive"), (6L, "date"))
      .toDF("t", "v").repartition(3)
    def q(b: WS) = df.select(col("t"),
      min(col("v")).over(b.rowsBetween(-2, 0)).as("mn"),
      max(col("v")).over(b.rowsBetween(-2, 0)).as("mx"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(got == native)
    assert(got.map(r => (r.getString(1), r.getString(2))) == Seq(
      ("pear", "pear"), ("apple", "pear"), ("apple", "quince"),
      ("apple", "quince"), ("fig", "quince"), ("date", "olive")))
  }

  test("integral inputs widen below the frame: sum(int) plans GlobalFrame " +
    "and keeps the native long result type") {
    val df = spark.range(500).select(col("id").as("t"),
      (col("id") % 100).cast("int").as("v")).repartition(7)
    def q(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(-9, 0)).as("s"),
      min(col("v")).over(b.rowsBetween(-9, 0)).as("mn"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(got == native)
    assert(q(w).schema("s").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(q(w).schema("mn").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("mixed window: running total + moving aggregates fuse into " +
    "GlobalFrame stacked on GlobalScan over ONE sort") {
    val df = spark.range(2000).select(col("id").as("t"),
      (col("id") * 17 % 401).as("v")).repartition(11)
    def q(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(Long.MinValue, 0)).as("run_total"),
      avg(col("v")).over(b.rowsBetween(-99, 0)).as("mov_avg"),
      max(col("v")).over(b.rowsBetween(-99, 0)).as("mov_max"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame") && plan.contains("GlobalScan"),
      s"mixed window not split across the two operators:\n$plan")
    assert(!plan.contains("Window"), plan)
    // the stack shares one exchange + one sort — the scan's output
    // partitioning/ordering satisfy the frame's requirements
    assert("ENSURE_REQUIREMENTS".r.findAllIn(plan).size == 1 &&
      "Sort ".r.findAllIn(plan).size == 1,
      s"expected one shared exchange + sort under the stack:\n$plan")
    assert(got == native)
  }

  test("k = 0 (current row only) and k past MaxFrame") {
    val df = spark.range(100).select(col("id").as("t"),
      (col("id") % 10).as("v")).repartition(4)
    def q0(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(0, 0)).as("s"))
    val (native0, got0, plan0) = nativeVsRewritten(q0, "t")
    assert(plan0.contains("GlobalFrame"), plan0)
    assert(got0 == native0)
    val far = df.select(col("t"),
      sum(col("v")).over(frame(GlobalFrame.MaxFrame + 1)).as("s"))
    assert(!far.queryExecution.executedPlan.toString
      .contains("GlobalFrame"))
  }

  test("partitioned windows keep WindowExec") {
    val df = spark.range(100).select(col("id").as("t"),
      (col("id") % 5).as("g"), (col("id") % 10).as("v"))
    val byG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("t")).rowsBetween(-3, 0)
    assert(!df.select(sum(col("v")).over(byG).as("s"))
      .queryExecution.executedPlan.toString.contains("GlobalFrame"))
  }

  test("centered frames: k PRECEDING .. k FOLLOWING matches the native " +
    "window across many partitions") {
    val n = 3000
    val df = spark.range(n).select(col("id").as("t"),
      (col("id") * 13 % 503).as("v")).repartition(17)
    for ((lo, hi) <- Seq((-5, 5), (-100, 100), (-1, 3))) {
      def q(b: WS) = df.select(col("t"),
        sum(col("v")).over(b.rowsBetween(lo, hi)).as("s"),
        avg(col("v")).over(b.rowsBetween(lo, hi)).as("a"),
        min(col("v")).over(b.rowsBetween(lo, hi)).as("mn"),
        count(lit(1)).over(b.rowsBetween(lo, hi)).as("n"))
      val (native, got, plan) = nativeVsRewritten(q, "t")
      assert(plan.contains("GlobalFrame"), s"[$lo,$hi] not rewritten:\n$plan")
      assert(!plan.contains("Window"), plan)
      assert(got == native, s"[$lo,$hi]")
    }
  }

  test("pure-lookahead and detached frames: empty frames at the corpus " +
    "edges are NULL (counts 0), matching the native window") {
    val n = 400
    val df = spark.range(n).select(col("id").as("t"),
      (col("id") * 7 % 101).as("v")).repartition(9)
    // CURRENT ROW .. 10 FOLLOWING, 1 .. 5 FOLLOWING (empty at the tail),
    // 10 .. 3 PRECEDING (empty at the head)
    for ((lo, hi) <- Seq((0, 10), (1, 5), (-10, -3))) {
      def q(b: WS) = df.select(col("t"),
        sum(col("v")).over(b.rowsBetween(lo, hi)).as("s"),
        max(col("v")).over(b.rowsBetween(lo, hi)).as("mx"),
        count(col("v")).over(b.rowsBetween(lo, hi)).as("c"))
      val (native, got, plan) = nativeVsRewritten(q, "t")
      assert(plan.contains("GlobalFrame"), s"[$lo,$hi] not rewritten:\n$plan")
      assert(got == native, s"[$lo,$hi]")
    }
    // spot-check edge semantics on [1, 5]: the last row's frame is empty
    val lastRow = df.select(col("t"),
      sum(col("v")).over(w.rowsBetween(1, 5)).as("s"),
      count(col("v")).over(w.rowsBetween(1, 5)).as("c"))
      .orderBy(col("t").desc).limit(1).collect()(0)
    assert(lastRow.isNullAt(1) && lastRow.getLong(2) == 0L)
  }

  test("nulls with forward frames carry native semantics") {
    val df = Seq[(Long, Option[Long])](
      (1L, Some(5L)), (2L, None), (3L, Some(7L)), (4L, None),
      (5L, None), (6L, Some(2L)))
      .toDF("t", "v").repartition(3)
    def q(b: WS) = df.select(col("t"),
      sum(col("v")).over(b.rowsBetween(-1, 1)).as("s"),
      min(col("v")).over(b.rowsBetween(0, 2)).as("mn"),
      count(col("v")).over(b.rowsBetween(-2, 1)).as("c"))
    val (native, got, plan) = nativeVsRewritten(q, "t")
    assert(plan.contains("GlobalFrame"), plan)
    assert(got == native)
  }

  test("direct API: GlobalFrame.sliding computes a centered aggregate " +
    "without the rule") {
    val df = spark.range(1000).select(col("id").as("t"),
      (col("id") % 50).as("v")).repartition(8)
    val got = GlobalFrame.sliding(df, "v", -2, 2, ScanKind.Min,
      "t" -> false)
      .orderBy("t").select("frame").as[Long].collect().toSeq
    val want = (0 until 1000).map(i =>
      (math.max(0, i - 2) to math.min(999, i + 2)).map(_.toLong % 50).min)
    assert(got == want)
  }

  test("ANSI sliding sum raises on a frame whose in-order partial " +
    "overflows, exactly like the native window") {
    val big = Long.MaxValue / 2 + 10L
    val df = Seq((1L, big), (2L, big), (3L, 1L)).toDF("t", "v")
      .repartition(2)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // legacy: wrapping sliding sums equal WindowExec's bit for bit
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val wide = spark.range(200).select(col("id").as("t"),
        (lit(big) + col("id") * 7919L).as("v")).repartition(4)
      val (native, got, plan) = nativeVsRewritten(b => wide.select(col("t"),
        sum(col("v")).over(b.rowsBetween(-3, 1)).as("s")), "t")
      assert(plan.contains("GlobalFrame"), plan)
      assert(got == native)
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val q = df.select(col("t"), sum(col("v")).over(frame(1)).as("s"))
      assert(q.queryExecution.executedPlan.toString
        .contains("GlobalFrame"))
      val ex = intercept[org.apache.spark.SparkException] {
        q.collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c =>
        c.isInstanceOf[ArithmeticException] ||
          c.getMessage != null && c.getMessage.contains("overflow")),
        ex.toString)
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", prev)
    }
  }

  test("direct API: GlobalFrame.trailing computes the sliding aggregate " +
    "without the rule") {
    val df = spark.range(1000).select(col("id").as("t"),
      (col("id") % 50).as("v")).repartition(8)
    val got = GlobalFrame.trailing(df, "v", 4, ScanKind.Max, "t" -> false)
      .orderBy("t").select("frame").as[Long].collect().toSeq
    val want = (0 until 1000).map(i =>
      ((math.max(0, i - 4)) to i).map(j => j.toLong % 50).max)
    assert(got == want)
  }
}
