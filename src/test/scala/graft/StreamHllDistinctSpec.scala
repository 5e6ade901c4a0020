package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the bounded-state streaming HLL distinct sketch: the
  * multi-batch replayed registers must estimate within the driver-checked
  * 10% bound (m=1024 → rsd ≈ 3.25%, so 10% is ~3σ), and the state the
  * stream carries must stay ≤ types × 1024 rows — the whole point vs an
  * exact streaming distinct that keeps every user id. */
class StreamHllDistinctSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("stream_hll_distinct: every type within 10%, state bounded") {
    val rows = SparkEntry.queries("stream_hll_distinct")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Long]("within_10pct")).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (tpe, ok) =>
      assert(ok == 1L, s"$tpe estimate outside the 10% contract")
    }
    // the register table the stream maintains is the BATCH histogram of
    // (type, reg) -> max(rho) — recompute it batch-side and pin the
    // bound; max() associativity is what makes replay == batch
    val regs = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .select(col("event_type"), col("h").bitwiseAND(1023).as("reg"),
        shiftrightunsigned(col("h"), 10).as("rest"))
      .select(col("event_type"), col("reg"),
        when(col("rest") === 0, 55)
          .otherwise(lit(55) - length(bin(col("rest")))).as("rho"))
      .groupBy("event_type", "reg").agg(max("rho").as("m"))
      .collect()
    assert(rows.keySet == regs.map(_.getString(0)).toSet)
    regs.groupBy(_.getString(0)).foreach { case (tpe, g) =>
      assert(g.length <= 1024, s"$tpe state exceeds 1024 registers")
      g.foreach { r =>
        val reg = r.getAs[Long]("reg"); val m = r.getAs[Int]("m")
        assert(reg >= 0 && reg < 1024)
        assert(m >= 1 && m <= 55, s"rho rank $m out of range")
      }
    }
  }
}
