package graft

import graft.plans.Recurrence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-row and one-row inputs spread over more partitions than rows,
  * through every Global* node kind: the driver's carries must come out
  * right when most (or all) partitions are empty. The input is
  * `spark.range` over 4 slices, already range-partitioned and sorted by
  * `id`, so each operator runs on exactly those 4 partitions with no
  * exchange between. The empty input filters on `id < 0`, which the
  * optimizer cannot fold away, and every case pins the Global* node in
  * the executed plan. Each window is compared with the same window over
  * a non-foldable always-zero partition key, which runs WindowExec; the
  * recurrence is compared with the sequential fold. */
class GlobalDegenerateInputSpec extends AnyFunSuite {
  import TestSpark.spark

  private def input(rows: Long): DataFrame =
    spark.range(0, 8, 1, 4).where(col("id") < rows)
      .select(col("id"), (col("id") % 3 + 1).as("v"))

  private val gw = Window.orderBy(col("id"))
  private val nw = Window.partitionBy(pmod(col("id"), lit(1)))
    .orderBy(col("id"))

  private val shapes: Seq[(String, WindowSpec => Seq[Column])] = Seq(
    "GlobalRank" -> (w => Seq(row_number().over(w))),
    "GlobalTies" -> (w => Seq(rank().over(w), percent_rank().over(w),
      ntile(3).over(w), cume_dist().over(w))),
    "GlobalScan" -> (w => Seq(sum("v").over(w), avg("v").over(w),
      max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))),
    "GlobalShift" -> (w => Seq(lag("v", 2).over(w))),
    "GlobalEdge" -> (w => Seq(nth_value(col("v"), 2).over(w))),
    "GlobalFrame" -> (w => Seq(sum("v").over(w.rowsBetween(-1, 1)),
      min("v").over(w.rowsBetween(-2, -1)))),
    "GlobalRange" -> (w => Seq(sum("v").over(w.rangeBetween(-2, 0)),
      count("v").over(w.rangeBetween(1, 3)))))

  for (rows <- Seq(0L, 1L); (node, cols) <- shapes)
    test(s"$node over $rows row(s) in 4 partitions matches WindowExec") {
      def q(w: WindowSpec) = input(rows).select(
        col("id") +: cols(w).zipWithIndex.map { case (c, i) => c.as(s"c$i") }
          : _*)
      val got = q(gw)
      val native = q(nw)
      assert(input(rows).rdd.getNumPartitions == 4)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains(node) && !plan.contains("Window"), plan)
      val nplan = native.queryExecution.executedPlan.toString
      assert(nplan.contains("Window") && !nplan.contains("Global"), nplan)
      val rowsGot = got.orderBy("id").collect().toSeq
      assert(rowsGot.length == rows)
      assert(rowsGot == native.orderBy("id").collect().toSeq)
    }

  for (rows <- Seq(0L, 1L))
    test(s"GlobalRecur over $rows row(s) in 4 partitions matches the " +
      "sequential fold") {
      val df = input(rows).select(col("id"), (col("v") + 1).as("m"),
        (col("id") + 5).as("c"))
      val got = Recurrence.scan(df, "m", "c", 7L, "id" -> false)
      assert(got.queryExecution.executedPlan.toString.contains("GlobalRecur"))
      var y = 7L
      val want = df.orderBy("id").collect().toSeq.map { r =>
        y = r.getLong(1) * y + r.getLong(2); y
      }
      assert(got.orderBy("id").select("y").collect().toSeq
        .map(_.getLong(0)) == want)
      assert(want.length == rows)
    }
}
