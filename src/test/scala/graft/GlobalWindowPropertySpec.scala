package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Randomized native-twin parity for the distributed global-window
  * family: arbitrary data (duplicates, nulls, skewed keys), arbitrary
  * partition counts, arbitrary frame bounds / offsets — every rewritten
  * plan must match WindowExec bit-for-bit. Complements the targeted
  * Global*Spec suites with shapes nobody thought to hand-craft.
  *
  * Deterministic: fixed scalacheck seeds, explicit parameter draws (a
  * failing case prints its draw for replay). Iteration counts are small
  * because each case runs real Spark jobs; the DRAWS vary widely.
  */
class GlobalWindowPropertySpec extends AnyFunSuite {
  import TestSpark.spark

  private type WS = org.apache.spark.sql.expressions.WindowSpec
  private val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
  private val wN = org.apache.spark.sql.expressions.Window
    .partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"))

  /** (n rows, key-duplication factor, null rate %, partitions) */
  private val shapeGen: Gen[(Int, Int, Int, Int)] = for {
    n <- Gen.choose(1, 2500)
    dup <- Gen.choose(1, 50) // t = id / dup: heavy order-key ties
    nullPct <- Gen.choose(0, 60)
    parts <- Gen.choose(1, 17)
  } yield (n, dup, nullPct, parts)

  private def draw[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def data(n: Int, dup: Int, nullPct: Int, parts: Int) =
    spark.range(n).select(
      (col("id") / dup).cast("long").as("t"),
      when(pmod(col("id") * 131, lit(100)) >= nullPct,
        (col("id") * 37 % 1009) - 300).as("v"))
      .repartition(parts)

  private def check(build: WS => org.apache.spark.sql.DataFrame,
                    mustPlan: String, label: String): Unit = {
    val nq = build(wN)
    assert(nq.queryExecution.executedPlan.toString.contains("Window"),
      s"$label: twin lost WindowExec")
    val native = nq.orderBy(col("t"), col("rid")).collect().toSeq
    val q = build(w)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(mustPlan) && !plan.contains("Window"),
      s"$label: expected $mustPlan rewrite:\n$plan")
    assert(q.orderBy(col("t"), col("rid")).collect().toSeq == native, label)
  }

  test("random sliding ROWS frames match WindowExec (sum/min/count/avg)") {
    for (seed <- 1L to 8L) {
      val (n, dup, nullPct, parts) = draw(shapeGen, seed)
      val (lo, hi0) = draw(for {
        a <- Gen.choose(-60, 60); b <- Gen.choose(0, 60)
      } yield (a, b), seed + 100)
      val hi = math.max(lo, hi0)
      val df = data(n, dup, nullPct, parts)
        .withColumn("rid", monotonically_increasing_id())
      val label = s"seed=$seed n=$n dup=$dup nulls=$nullPct% " +
        s"parts=$parts frame=[$lo,$hi]"
      // ROWS-frame values over order TIES depend on the executed tie
      // order, which the twin and the rewrite need not share — pin a
      // total order (rid in the ORDER BY) so parity is well-defined
      val wT = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("rid"))
      val wTN = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"), col("rid"))
      def q(b: WS) = df.select(col("t"), col("rid"),
        sum(col("v")).over(b.rowsBetween(lo, hi)).as("s"),
        min(col("v")).over(b.rowsBetween(lo, hi)).as("m"),
        count(col("v")).over(b.rowsBetween(lo, hi)).as("c"),
        avg(col("v")).over(b.rowsBetween(lo, hi)).as("a"))
      val nq = q(wTN)
      assert(nq.queryExecution.executedPlan.toString.contains("Window"),
        s"$label: twin lost WindowExec")
      val native = nq.orderBy(col("t"), col("rid")).collect().toSeq
      val r = q(wT)
      val plan = r.queryExecution.executedPlan.toString
      assert(plan.contains("GlobalFrame") && !plan.contains("Window"),
        s"$label:\n$plan")
      assert(r.orderBy(col("t"), col("rid")).collect().toSeq == native,
        label)
    }
  }

  test("random offsets (lag/lead, null defaults) match WindowExec") {
    for (seed <- 11L to 18L) {
      val (n, dup, nullPct, parts) = draw(shapeGen, seed)
      val k = draw(Gen.choose(1, 40), seed + 200)
      val df = data(n, dup, nullPct, parts)
        .withColumn("rid", monotonically_increasing_id())
      // ORDER ties make raw lag values partition-order-dependent in BOTH
      // plans; pin a total order by including rid in the ORDER BY
      val wT = org.apache.spark.sql.expressions.Window
        .orderBy(col("t"), col("rid"))
      val wTN = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("t"), lit(1))).orderBy(col("t"), col("rid"))
      val label = s"seed=$seed n=$n dup=$dup nulls=$nullPct% " +
        s"parts=$parts k=$k"
      val nq = df.select(col("t"), col("rid"),
        lag(col("v"), k).over(wTN).as("lg"),
        lead(col("v"), k).over(wTN).as("ld"))
      assert(nq.queryExecution.executedPlan.toString.contains("Window"))
      val native = nq.orderBy(col("t"), col("rid")).collect().toSeq
      val q = df.select(col("t"), col("rid"),
        lag(col("v"), k).over(wT).as("lg"),
        lead(col("v"), k).over(wT).as("ld"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GlobalFrame") && !plan.contains("Window"),
        s"$label:\n$plan")
      assert(q.orderBy(col("t"), col("rid")).collect().toSeq == native,
        label)
    }
  }

  test("random value-RANGE frames match WindowExec (incl. half-bounded)") {
    for (seed <- 31L to 38L) {
      val (n, dup, nullPct, parts) = draw(shapeGen, seed)
      val (lo, hi0) = draw(for {
        a <- Gen.choose(-25L, 25L); b <- Gen.choose(0L, 25L)
      } yield (a, b), seed + 300)
      val hi = math.max(lo, hi0)
      val df = data(n, dup, nullPct, parts)
        .withColumn("rid", monotonically_increasing_id())
      val label = s"seed=$seed n=$n dup=$dup nulls=$nullPct% " +
        s"parts=$parts range=[$lo,$hi]"
      // value-RANGE frames are peer-based: tie-invariant, so the
      // ambiguous ORDER BY t is exactly what they must handle
      check(b => df.select(col("t"), col("rid"),
        sum(col("v")).over(b.rangeBetween(lo, hi)).as("s"),
        count(col("v")).over(b.rangeBetween(lo, hi)).as("c"),
        min(col("v")).over(b.rangeBetween(lo, hi)).as("m"),
        // the half-bounded decomposition, same draw
        sum(col("v")).over(b.rangeBetween(Long.MinValue,
          if (lo != 0L) lo else -1L)).as("hs"),
        count(col("v")).over(b.rangeBetween(Long.MinValue,
          if (lo != 0L) lo else -1L)).as("hc")),
        "GlobalRange", label)
    }
  }

  test("random running prefixes + rank family match WindowExec") {
    for (seed <- 21L to 28L) {
      val (n, dup, nullPct, parts) = draw(shapeGen, seed)
      val df = data(n, dup, nullPct, parts)
        .withColumn("rid", monotonically_increasing_id())
      val label = s"seed=$seed n=$n dup=$dup nulls=$nullPct% parts=$parts"
      // RANGE-frame running sum gives tie groups the group total, so it
      // is deterministic under order ties; rank/dense_rank likewise
      check(b => df.select(col("t"), col("rid"),
        sum(col("v")).over(b).as("run"),
        rank().over(b).cast("long").as("rnk"),
        dense_rank().over(b).cast("long").as("drnk")),
        "Global", label)
    }
  }
}
