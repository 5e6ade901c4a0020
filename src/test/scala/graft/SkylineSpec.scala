package graft

import graft.ops.Skyline
import org.scalatest.funsuite.AnyFunSuite

class SkylineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Quadratic reference: distinct points not dominated by any other. */
  private def brute(pts: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val counts = pts.groupBy(identity).map { case (p, g) =>
      (p._1, p._2, g.size.toLong) }
    counts.filter { case (x, y, _) =>
      !counts.exists { case (qx, qy, _) =>
        qx >= x && qy >= y && (qx > x || qy > y) }
    }.toSet
  }

  test("frontier equals the quadratic dominance answer on random points " +
    "with duplicate coordinates") {
    val rnd = new scala.util.Random(11)
    // small coordinate domain forces x-ties, y-ties, and full-duplicate
    // points — every branch of the sweep's strict/non-strict reasoning
    val pts = Seq.fill(4000)((rnd.nextLong(60), rnd.nextLong(60)))
    val got = Skyline.frontier(
      pts.toDF("x", "y").repartition(7), "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute(pts))
  }

  test("anti-chain input: every distinct point is its own frontier") {
    // y = -x, nothing dominates anything
    val pts = (0L until 300L).map(i => (i, 300L - i))
    val got = Skyline.frontier(pts.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == pts.map(p => (p._1, p._2, 1L)).toSet)
  }

  test("chain input: only the maximal point survives; duplicates of it " +
    "collapse to one row with their count") {
    // y = x, totally ordered; top point duplicated 3x
    val pts = (0L until 200L).map(i => (i, i)) ++ Seq((199L, 199L), (199L, 199L))
    val got = Skyline.frontier(pts.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((199L, 199L, 3L)))
  }

  test("null coordinates are excluded from dominance") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (10L, null), (null, 10L), (5L, 5L), (1L, 9L)).toDF("x", "y")
    val got = Skyline.frontier(df, "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((5L, 5L, 1L), (1L, 9L, 1L)))
  }
}
