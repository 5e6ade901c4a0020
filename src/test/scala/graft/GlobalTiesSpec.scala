package graft

import graft.plans.{GlobalTiesPlan, TieKind}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalTiesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))

  test("rule rewrites global rank()/dense_rank(); values match the " +
    "native window on tie groups spanning partitions") {
    // 4000 rows in 40 tie groups of 100 — groups straddle the 13 range
    // partitions, so correctness depends on the driver-side boundary
    // chaining, not luck
    val df = spark.range(4000).select(
      (col("id") / 100).cast("long").as("k"), col("id").as("payload"))
      .repartition(13)
    // expected, computed sequentially: rank = 100*g + 1, dense = g + 1
    val expRank = (0 until 4000).map(i => (i / 100) * 100 + 1)
    val expDense = (0 until 4000).map(i => i / 100 + 1)
    val r = df.withColumn("r", rank().over(w))
    val pr = r.queryExecution.executedPlan.toString
    assert(pr.contains("GlobalTies"), s"rank() not rewritten:\n$pr")
    assert(!pr.contains("Window"), s"rank() fell back to a window:\n$pr")
    assert(r.schema("r").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(r.orderBy("payload").select("r").as[Int].collect().toSeq ==
      expRank)
    val d = df.withColumn("r", dense_rank().over(w))
    val pd = d.queryExecution.executedPlan.toString
    assert(pd.contains("GlobalTies"), s"dense_rank() not rewritten:\n$pd")
    assert(!pd.contains("Window"), pd)
    assert(d.orderBy("payload").select("r").as[Int].collect().toSeq ==
      expDense)
  }

  test("a single tie group spanning EVERY partition chains through: all " +
    "ranks 1") {
    val df = spark.range(2000).select(lit(7L).as("k"),
      col("id").as("payload")).repartition(11)
    val r = df.withColumn("r", rank().over(w))
      .select(countDistinct(col("r")).as("n"), min(col("r")).as("mn"))
      .collect().head
    assert((r.getLong(0), r.getInt(1)) == ((1L, 1)))
    val d = df.withColumn("r", dense_rank().over(w))
      .select(max(col("r"))).as[Int].collect().head
    assert(d == 1)
  }

  test("rank matches WindowExec exactly on random data with nulls and " +
    "descending order") {
    // parity against Spark's own single-partition WindowExec on the same
    // session — null ordering and descending tie classes must agree
    val df = spark.range(3000).select(
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 37) % 53).as("k"),
      col("id").as("payload"))
    val wd = org.apache.spark.sql.expressions.Window
      .orderBy(col("k").desc_nulls_last)
    // native twin: NON-FOLDABLE always-zero partition key (the session
    // extensions rewrite bare un-partitioned twins — self-comparison)
    val wdN = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("payload"), lit(1)))
      .orderBy(col("k").desc_nulls_last)
    def vals(q: org.apache.spark.sql.DataFrame): Seq[Int] =
      q.orderBy("payload").select("r").as[Int].collect().toSeq
    def nat(q: org.apache.spark.sql.DataFrame): Seq[Int] = {
      val np = q.queryExecution.executedPlan.toString
      assert(np.contains("Window") && !np.contains("GlobalTies"), np)
      vals(q)
    }
    val wantR = nat(df.withColumn("r", rank().over(wdN)))
    val wantD = nat(df.withColumn("r", dense_rank().over(wdN)))
    val gotR = df.repartition(9).withColumn("r", rank().over(wd))
    assert(gotR.queryExecution.executedPlan.toString
      .contains("GlobalTies"))
    assert(vals(gotR) == wantR)
    val gotD = df.repartition(9).withColumn("r", dense_rank().over(wd))
    assert(vals(gotD) == wantD)
  }

  test("percent_rank()/ntile(n) rewrite and match WindowExec exactly, " +
    "including uneven buckets") {
    // 3001 rows: ntile(7) gets 3001 = 7*428 + 5 — five big buckets of
    // 429 then two of 428, the uneven arm that exposes off-by-ones
    val df = spark.range(3001).select(
      ((col("id") * 13) % 97).as("k"), col("id").as("payload"))
    def vals(q: org.apache.spark.sql.DataFrame): Seq[Any] =
      q.orderBy("payload").select("r").collect().map(_.get(0)).toSeq
    // ntile splits TIE GROUPS at bucket boundaries, so row-level parity
    // needs a total order (percent_rank is a function of the tie rank and
    // is order-of-ties invariant — it keeps the tied window deliberately)
    val wt = org.apache.spark.sql.expressions.Window
      .orderBy(col("k"), col("payload"))
    // native twins with a non-foldable always-zero partition key (see
    // the rank test above)
    val wNat = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("payload"), lit(1))).orderBy(col("k"))
    val wtNat = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("payload"), lit(1)))
      .orderBy(col("k"), col("payload"))
    def nat2(q: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val np = q.queryExecution.executedPlan.toString
      assert(np.contains("Window") && !np.contains("GlobalTies"), np)
      vals(q)
    }
    val wantP = nat2(df.withColumn("r", percent_rank().over(wNat)))
    val wantN = nat2(df.withColumn("r", ntile(7).over(wtNat)))
    val gotP = df.repartition(9).withColumn("r", percent_rank().over(w))
    val pp = gotP.queryExecution.executedPlan.toString
    assert(pp.contains("GlobalTies"), s"percent_rank not rewritten:\n$pp")
    assert(!pp.contains("Window"), pp)
    assert(gotP.schema("r").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(vals(gotP) == wantP)
    val gotN = df.repartition(9).withColumn("r", ntile(7).over(wt))
    val pn = gotN.queryExecution.executedPlan.toString
    assert(pn.contains("GlobalTies"), s"ntile not rewritten:\n$pn")
    assert(gotN.schema("r").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(vals(gotN) == wantN)
    // single-row edge: percent_rank is defined as 0.0
    val one = Seq(5L).toDF("k").repartition(3)
      .withColumn("r", percent_rank().over(w))
    assert(one.select("r").as[Double].collect().toSeq == Seq(0.0))
  }

  test("cume_dist() rewrites via the reversed order and matches " +
    "WindowExec with ties, nulls, and descending order") {
    val df = spark.range(3000).select(
      when(col("id") % 13 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 29) % 41).as("k"),
      col("id").as("payload"))
    def vals(q: org.apache.spark.sql.DataFrame): Seq[Double] =
      q.orderBy("payload").select("r").as[Double].collect().toSeq
    // both directions + both null placements: the rule's comparator
    // inversion (direction AND null ordering) is exactly what's under test
    val orders = Seq(
      org.apache.spark.sql.expressions.Window.orderBy(col("k")),
      org.apache.spark.sql.expressions.Window
        .orderBy(col("k").desc_nulls_first),
      org.apache.spark.sql.expressions.Window
        .orderBy(col("k").asc_nulls_last))
    val wants = orders.map(o => vals(df.withColumn("r", cume_dist().over(o))))
    orders.zip(wants).foreach { case (o, want) =>
      val got = df.repartition(7).withColumn("r", cume_dist().over(o))
      val p = got.queryExecution.executedPlan.toString
      assert(p.contains("GlobalTies"), s"cume_dist not rewritten:\n$p")
      assert(!p.contains("Window"), p)
      assert(vals(got) == want)
    }
  }

  test("top-k rank filters and limit-bounded inputs keep WindowExec") {
    val df = spark.range(500).select((col("id") % 50).as("k"))
    // prunable top-k on the rank: InferWindowGroupLimit territory
    val topk = df.withColumn("r", rank().over(w)).where(col("r") <= 10)
    val pt = topk.queryExecution.executedPlan.toString
    assert(!pt.contains("GlobalTies"),
      s"top-k rank must stay prunable WindowExec:\n$pt")
    // LIMIT-bounded input: provably tiny at any scale
    val bounded = df.orderBy("k").limit(20)
      .withColumn("r", rank().over(w))
    val pb = bounded.queryExecution.executedPlan.toString
    assert(!pb.contains("GlobalTies"),
      s"limit-bounded rank must stay WindowExec:\n$pb")
  }

  test("explicit GlobalTiesPlan node plans distributed (no Window, " +
    "range partitioning)") {
    val df = spark.range(100).select((col("id") % 10).as("k"))
    val analyzed = df.queryExecution.analyzed
    val order = org.apache.spark.sql.catalyst.expressions.SortOrder(
      analyzed.output.head,
      org.apache.spark.sql.catalyst.expressions.Ascending)
    val plan = GlobalTiesPlan(Seq(order), TieKind.Rank, analyzed)
    val got = org.apache.spark.sql.graftbridge.Bridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("GlobalTies") && p.contains("rangepartitioning"), p)
    assert(got.select(max(col("rank"))).as[Long].collect().head == 91L)
  }
}
