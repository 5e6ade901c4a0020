package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the bounded-state streaming quantile sketch: the
  * power-of-two bucket estimate must bracket the exact quantile from
  * above within one bucket ratio — est/exact ∈ [1, 2) — and the
  * histogram the stream maintains must equal the batch histogram
  * (replay exactness is what makes the estimate well-defined). */
class StreamQuantileSketchSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("stream_quantile_sketch: est/exact in [1, 2), counts conserve") {
    val rows = SparkEntry.queries("stream_quantile_sketch")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("p50_est"),
          r.getAs[Double]("p95_est"))).toMap
    assert(rows.nonEmpty)
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.map(_._2._1).sum == ev.length, "row mass conserves")
    ev.groupBy(_._1).foreach { case (tpe, vs) =>
      val (n, p50, p95) = rows(tpe)
      assert(n == vs.length)
      val cents = vs.map(v => math.round(v._2 * 100)).sorted
      // exact quantile at the same rank convention: smallest value with
      // cum >= ceil(p*n)
      def exact(num: Long, den: Long): Double =
        cents(((num * n + num) / den - 1).toInt) / 100.0
      val e50 = exact(1, 2)   // ceil(n/2)
      val e95 = exact(19, 20) // ceil(19n/20)
      assert(p50 / e50 >= 1.0 - 1e-9 && p50 / e50 < 2.0,
        s"$tpe p50 est $p50 vs exact $e50")
      assert(p95 / e95 >= 1.0 - 1e-9 && p95 / e95 < 2.0,
        s"$tpe p95 est $p95 vs exact $e95")
    }
  }
}
