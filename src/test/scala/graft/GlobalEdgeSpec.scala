package graft

import graft.plans.GlobalEdge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalEdgeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val W = org.apache.spark.sql.expressions.Window
  private val wRows = W.orderBy(col("t"))
    .rowsBetween(W.unboundedPreceding, W.currentRow)
  private val wRange = W.orderBy(col("k")) // analyzer default: RANGE frame

  /** 4000 rows, unique order key t = 0..3999, v null when t % 7 == 0,
    * else t * 31 % 1009 — nulls land on the FIRST row (t = 0), deep in
    * the middle, and across the 13 range partitions. */
  private def rowsDf = spark.range(4000).select(col("id").as("t"),
    when(col("id") % 7 === 0, lit(null).cast("long"))
      .otherwise(col("id") * 31 % 1009).as("v")).repartition(13)
  private val vs: IndexedSeq[Option[Long]] = (0 until 4000).map(i =>
    if (i % 7 == 0) None else Some(i.toLong * 31 % 1009))

  private def edgePlanned(q: org.apache.spark.sql.DataFrame,
                          label: String): Unit = {
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GlobalEdge"), s"$label not rewritten:\n$p")
    assert(!p.contains("Window"), s"$label fell back to a window:\n$p")
  }

  private def got(q: org.apache.spark.sql.DataFrame,
                  order: String = "t"): Seq[Option[Long]] =
    q.orderBy(order).select("x").as[Option[Long]].collect().toSeq

  test("ROWS frame: first_value respect/ignore nulls and nth_value match " +
    "a sequential scan across many partitions") {
    val df = rowsDf
    // respect nulls: the global first row's value — which IS null here
    // (t = 0 is a null row): every row must carry that null through
    val fr = df.withColumn("x", first(col("v")).over(wRows))
    edgePlanned(fr, "first_value")
    assert(got(fr) == Seq.fill(4000)(None))
    // ignore nulls: null until the first non-null row (t = 1), its
    // value from there on
    val fi = df.withColumn("x",
      first(col("v"), ignoreNulls = true).over(wRows))
    edgePlanned(fi, "first_value ignore nulls")
    assert(got(fi) == None +: Seq.fill(3999)(vs(1)))
    // nth_value(250) respect nulls: null until global row 250
    // (t = 249), that row's value after
    val nv = df.withColumn("x", nth_value(col("v"), 250).over(wRows))
    edgePlanned(nv, "nth_value")
    assert(got(nv) ==
      Seq.fill(249)(None) ++ Seq.fill(3751)(vs(249)))
    // nth_value(250) ignore nulls: the 250th NON-NULL value, emitted
    // from its own global position on
    val nonNullPos = (0 until 4000).filter(_ % 7 != 0)
    val p250 = nonNullPos(249)
    val ni = df.withColumn("x",
      nth_value(col("v"), 250, ignoreNulls = true).over(wRows))
    edgePlanned(ni, "nth_value ignore nulls")
    assert(got(ni) ==
      Seq.fill(p250)(None) ++ Seq.fill(4000 - p250)(vs(p250)))
  }

  test("ROWS frame: last_value ignore nulls is the running latest " +
    "non-null; respect nulls needs no operator at all") {
    val df = rowsDf
    val li = df.withColumn("x",
      last(col("v"), ignoreNulls = true).over(wRows))
    edgePlanned(li, "last_value ignore nulls")
    val want = vs.scanLeft(None: Option[Long])((acc, v) =>
      if (v.isDefined) v else acc).tail
    assert(got(li) == want)
    // respect nulls over ROWS: the frame's last row IS the current row —
    // the rule strips the window entirely (plain Project, no operator)
    val lr = df.withColumn("x", last(col("v")).over(wRows))
    val p = lr.queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("GlobalEdge"),
      s"rows-frame last_value should be a plain projection:\n$p")
    assert(got(lr) == vs)
  }

  test("default RANGE frame: peer groups spanning partitions get the " +
    "group-end edge via the driver-side chain") {
    // 40 tie groups of 100 rows over 13 range partitions — groups
    // straddle partitions, so every RANGE result depends on the chained
    // completion. Values are functions of the group key (RANGE last_value
    // with a non-functionally-dependent value is engine-ambiguous on tie
    // order by SQL semantics — not testable, not meaningful).
    val df = spark.range(4000).select(
      (col("id") / 100).cast("long").as("k"), col("id").as("t"))
      .select(col("k"), col("t"),
        when(col("k") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("k") * 3 + 1).as("v")).repartition(13)
    def groupVal(k: Int): Option[Long] =
      if (k % 5 == 0) None else Some(k.toLong * 3 + 1)
    // last_value respect nulls: every row gets ITS group's value —
    // including the null groups (a real null value, not "missing")
    val lv = df.withColumn("x", last(col("v")).over(wRange))
    edgePlanned(lv, "range last_value")
    assert(got(lv) == (0 until 4000).map(i => groupVal(i / 100)))
    // last_value ignore nulls: the latest non-null at or before the
    // group end — null groups inherit the previous group's value
    val li = df.withColumn("x",
      last(col("v"), ignoreNulls = true).over(wRange))
    edgePlanned(li, "range last_value ignore nulls")
    assert(got(li) == (0 until 4000).map { i =>
      val k = i / 100
      if (k % 5 != 0) groupVal(k)
      else if (k == 0) None else groupVal(k - 1)
    })
    // first_value respect nulls: group 0 is a null group — every row
    // carries that null
    val fv = df.withColumn("x", first(col("v")).over(wRange))
    edgePlanned(fv, "range first_value")
    assert(got(fv) == Seq.fill(4000)(None))
    // nth_value(150): the frame contains global row 150 from group 1's
    // end on — group 0's rows get null, everyone else row 150's value
    // (t = 149 is in group 1)
    val nv = df.withColumn("x", nth_value(col("v"), 150).over(wRange))
    edgePlanned(nv, "range nth_value")
    assert(got(nv) ==
      Seq.fill(100)(None) ++ Seq.fill(3900)(groupVal(1)))
  }

  test("one tie group spanning EVERY partition, string values, and an " +
    "nth position past the corpus") {
    val df = spark.range(2000).select(lit(7L).as("k"), col("id").as("t"),
      concat(lit("s"), col("id") % 3).as("v")).repartition(11)
    // the single group's last row is t = 1999 -> "s1"; every row of
    // every partition must get it through the full-length chain
    val lv = df.withColumn("x", last(col("v")).over(wRange))
    edgePlanned(lv, "all-span last_value")
    val xs = lv.select("x").distinct().as[String].collect().toSeq
    assert(xs == Seq("s" + (1999 % 3)))
    // nth_value past the corpus end: no row ever sees a 5000th row
    val nv = rowsDf.withColumn("x",
      nth_value(col("v"), 3000).over(wRows)).where(col("x").isNotNull)
    assert(nv.count() == 4000 - 2999)
    val nv2 = rowsDf.withColumn("x",
      nth_value(col("v"), 5000).over(wRows)).where(col("x").isNotNull)
    assert(nv2.count() == 0)
  }

  test("fallbacks hold: partitioned windows, LIMIT-bounded inputs, and " +
    "offsets beyond MaxN keep WindowExec") {
    val df = rowsDf
    val part = df.withColumn("x", first(col("v")).over(
      W.partitionBy(col("t") % 3).orderBy("t")))
    assert(!part.queryExecution.executedPlan.toString
      .contains("GlobalEdge"))
    val lim = df.orderBy("t").limit(50)
      .withColumn("x", first(col("v")).over(wRows))
    val pLim = lim.queryExecution.executedPlan.toString
    assert(!pLim.contains("GlobalEdge"), pLim)
    val deep = df.withColumn("x",
      nth_value(col("v"), GlobalEdge.MaxN + 1).over(wRows))
    assert(!deep.queryExecution.executedPlan.toString
      .contains("GlobalEdge"))
  }
}
