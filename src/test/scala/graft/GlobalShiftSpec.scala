package graft

import graft.plans.GlobalShift
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalShiftSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))

  test("global lag/lead rewrite: values match a sequential shift across " +
    "many partitions") {
    val n = 4000
    val df = spark.range(n).select(col("id").as("t"),
      (col("id") * 31 % 1009).as("v")).repartition(13)
    val vs = (0 until n).map(i => i.toLong * 31 % 1009)
    for (off <- Seq(1, 3, 250)) {
      val lagQ = df.withColumn("s", lag(col("v"), off).over(w))
      val pl = lagQ.queryExecution.executedPlan.toString
      assert(pl.contains("GlobalShift"), s"lag($off) not rewritten:\n$pl")
      assert(!pl.contains("Window"), pl)
      val gotLag = lagQ.orderBy("t").select("s")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val wantLag = (0 until n).map(i =>
        if (i - off < 0) None else Some(vs(i - off)))
      assert(gotLag.toSeq == wantLag, s"lag($off)")
      val leadQ = df.withColumn("s", lead(col("v"), off).over(w))
      val pd = leadQ.queryExecution.executedPlan.toString
      assert(pd.contains("GlobalShift"), s"lead($off) not rewritten:\n$pd")
      val gotLead = leadQ.orderBy("t").select("s")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val wantLead = (0 until n).map(i =>
        if (i + off >= n) None else Some(vs(i + off)))
      assert(gotLead.toSeq == wantLead, s"lead($off)")
    }
  }

  test("defaults, nulls in the value column, and string values carry " +
    "through") {
    val df = Seq(
      (1L, Some("a")), (2L, None), (3L, Some("c")), (4L, Some("d")))
      .toDF("t", "v").repartition(3)
    // default fills positions with no source row; a null VALUE at the
    // source row stays null (they are different cases)
    val got = df.withColumn("s", lag(col("v"), 2, "zz").over(w))
      .orderBy("t").select("s").as[Option[String]].collect().toSeq
    assert(got == Seq(Some("zz"), Some("zz"), Some("a"), None))
    val lead1 = df.withColumn("s", lead(col("v"), 1).over(w))
      .orderBy("t").select("s").as[Option[String]].collect().toSeq
    assert(lead1 == Seq(None, Some("c"), Some("d"), None))
  }

  test("ignore-nulls lag/lead match the native window, including the " +
    "reversed-order lead plan") {
    val df = Seq[(Long, Option[Long])](
      (1L, Some(10L)), (2L, None), (3L, Some(30L)), (4L, None),
      (5L, None), (6L, Some(60L)), (7L, None))
      .toDF("t", "v").repartition(3)
    def lagQ = df.withColumn("s", lag(col("v"), 1, null, true).over(w))
    def leadQ = df.withColumn("s", lead(col("v"), 2, null, true).over(w))
    // native twin: NON-FOLDABLE always-zero partition key — the session
    // extensions keep the rules active, and a bare un-partitioned twin
    // (or a foldable-partition one) would be rewritten too, comparing
    // the operator against itself
    val wNat = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"))
    def natQ(f: org.apache.spark.sql.Column) = df.withColumn("s", f)
    val lagN = natQ(lag(col("v"), 1, null, true).over(wNat))
    val leadN = natQ(lead(col("v"), 2, null, true).over(wNat))
    Seq(lagN, leadN).foreach { q =>
      val np = q.queryExecution.executedPlan.toString
      assert(np.contains("Window") && !np.contains("GlobalShift"), np)
    }
    val nativeLag = lagN.orderBy("t").collect().toSeq
    val nativeLead = leadN.orderBy("t").collect().toSeq
    val pl = lagQ.queryExecution.executedPlan.toString
    assert(pl.contains("GlobalShift") && !pl.contains("Window"), pl)
    val pd = leadQ.queryExecution.executedPlan.toString
    assert(pd.contains("GlobalShift") && !pd.contains("Window"), pd)
    assert(lagQ.orderBy("t").collect().toSeq == nativeLag)
    assert(leadQ.orderBy("t").collect().toSeq == nativeLead)
  }

  test("ignore-nulls shifts at scale: sparse values across many " +
    "partitions match a sequential scan") {
    val n = 4000
    // ~1/7 of rows carry a value; runs of nulls span whole partitions
    val df = spark.range(n).select(col("id").as("t"),
      when(col("id") % 7 === 0, col("id") * 3).as("v")).repartition(31)
    val vals = (0 until n).filter(_ % 7 == 0).map(i => i.toLong * 3)
    for (off <- Seq(1, 5)) {
      val got = df.withColumn("s", lag(col("v"), off, null, true).over(w))
        .orderBy("t").select("s")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val want = (0 until n).map { i =>
        // count of value-carrying rows strictly before i
        // (rows 0, 7, 14, ... — ceil(i/7) of them lie below i)
        val k = (i + 6) / 7
        if (k >= off) Some(vals(k - off)) else None
      }
      assert(got.toSeq == want, s"ignore-nulls lag($off)")
      val gotLead = df.withColumn("s",
        lead(col("v"), off, null, true).over(w))
        .orderBy("t").select("s")
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val wantLead = (0 until n).map { i =>
        // value-carrying rows strictly after i: indices 7*j > i
        val firstAfter = i / 7 + 1
        val idx = firstAfter + off - 1
        if (idx < vals.length) Some(vals(idx)) else None
      }
      assert(gotLead.toSeq == wantLead, s"ignore-nulls lead($off)")
    }
  }

  test("offset beyond MaxOffset, partitioned windows, and bounded inputs " +
    "keep WindowExec") {
    val far = spark.range(100).select(col("id").as("t"),
      col("id").as("v"))
    val q1 = far.withColumn("s",
      lag(col("v"), GlobalShift.MaxOffset + 1).over(w))
    assert(!q1.queryExecution.executedPlan.toString
      .contains("GlobalShift"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v") % 10).orderBy(col("t"))
    val q2 = far.withColumn("s", lag(col("v"), 1).over(wp))
    assert(!q2.queryExecution.executedPlan.toString
      .contains("GlobalShift"))
    val q3 = far.orderBy("t").limit(10)
      .withColumn("s", lag(col("v"), 1).over(w))
    assert(!q3.queryExecution.executedPlan.toString
      .contains("GlobalShift"))
  }

  test("boundary chains across partitions shorter than the offset") {
    // 10 rows over 8 partitions with offset 5: most boundaries must
    // splice values from SEVERAL earlier partitions
    val df = spark.range(10).select(col("id").as("t"),
      (col("id") * 7).as("v")).repartition(8)
    val got = df.withColumn("s", lag(col("v"), 5, -1L).over(w))
      .orderBy("t").select("s").as[Long].collect().toSeq
    assert(got == Seq(-1L, -1L, -1L, -1L, -1L, 0L, 7L, 14L, 21L, 28L))
  }
}
