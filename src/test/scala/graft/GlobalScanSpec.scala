package graft

import graft.plans.GlobalScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalScanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("runningSum matches a sequential prefix sum on shuffled input") {
    val big = spark.range(5000).select(
      (col("id") * 2654435761L % 1000003L).as("k"),
      (col("id") % 7 - 3).as("v"))
      .repartition(11)
    val got = GlobalScan.runningSum(big, "v", "k" -> false, "v" -> false)
      .select("k", "v", "running").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val want = got.map(t => (t._1, t._2))
      .scanLeft(0L)((acc, kv) => acc + kv._2).drop(1)
    assert(got.map(_._3).toSeq == want.toSeq)
  }

  test("plans as GlobalScan over a range partitioning, no Window") {
    val df = Seq((3L, 1L), (1L, 1L), (2L, -1L)).toDF("t", "d")
    val p = GlobalScan.runningSum(df, "d", "t" -> false)
      .queryExecution.executedPlan.toString
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Window"), p)
  }

  test("null values contribute nothing and running carries through") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(2L)))
      .toDF("t", "d")
    val got = GlobalScan.runningSum(df, "d", "t" -> false)
      .orderBy("t").select("running").as[Long].collect().toSeq
    assert(got == Seq(5L, 5L, 7L))
  }

  test("running sum is NULL before the first non-null value (SQL parity)") {
    val df = Seq((1L, None), (2L, None), (3L, Some(4L)), (4L, None))
      .toDF("t", "d")
    val got = GlobalScan.runningSum(df, "d", "t" -> false)
      .orderBy("t").select("running").as[Option[Long]].collect().toSeq
    assert(got == Seq(None, None, Some(4L), Some(4L)))
  }

  test("GlobalScanRule rewrites a ROWS-frame running sum and the default " +
    "RANGE frame") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((3L, 10L), (1L, 1L), (2L, 5L)).toDF("t", "v")
    val rows = df.withColumn("rs", sum(col("v")).over(
      Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val p = rows.queryExecution.executedPlan.toString
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Window"), p)
    assert(rows.orderBy("t").select("rs").as[Long].collect().toSeq ==
      Seq(1L, 6L, 16L))
    // default RANGE frame (no frame clause): rewrites too; with a
    // unique order it agrees with ROWS
    val range = df.withColumn("rs",
      sum(col("v")).over(Window.orderBy(col("t"))))
    val rp = range.queryExecution.executedPlan.toString
    assert(rp.contains("GlobalScan"), rp)
    assert(!rp.contains("Window"), rp)
    assert(range.orderBy("t").select("rs").as[Long].collect().toSeq ==
      Seq(1L, 6L, 16L))
    // ANSI overflow parity: the rewritten scan must RAISE where the
    // window sum would, never silently wrap
    val big = Seq((1L, Long.MaxValue), (2L, 1L)).toDF("t", "v")
      .withColumn("rs", sum(col("v")).over(
        Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bp = big.queryExecution.executedPlan.toString
    assert(bp.contains("GlobalScan"), bp)
    val e = intercept[org.apache.spark.SparkException](big.collect())
    assert(e.getMessage.contains("overflow") ||
      Option(e.getCause).exists(_.isInstanceOf[ArithmeticException]))
  }

  test("rule rewrites running count/count(*)/min/max/avg; values match a " +
    "sequential pass") {
    import org.apache.spark.sql.expressions.Window
    // nulls every 7th row so the SQL null semantics differ per kind:
    // counts never null, min/max/avg null until the first non-null
    val n = 3000
    val df = spark.range(n).select(
      col("id").as("t"),
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 37) % 1001 - 500).as("v"))
      .repartition(11)
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vs: Seq[Option[Long]] = (0L until n).map(i =>
      if (i % 7 == 0) None else Some((i * 37) % 1001 - 500))
    def run(c: org.apache.spark.sql.Column): Seq[Option[Any]] = {
      val q = df.withColumn("r", c.over(w))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("GlobalScan"), s"not rewritten:\n$p")
      assert(!p.contains("Window"), s"window left behind:\n$p")
      q.orderBy("t").select("r").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.get(0))).toSeq
    }
    // prefix states: (non-null count, rows, sum, min, max) per position
    val prefixes = vs.scanLeft((0L, 0L, 0L, Long.MaxValue, Long.MinValue)) {
      case ((c, r, s, mn, mx), ov) => ov match {
        case Some(v) => (c + 1, r + 1, s + v, math.min(mn, v), math.max(mx, v))
        case None => (c, r + 1, s, mn, mx)
      }
    }.drop(1)
    assert(run(count(col("v"))) == prefixes.map(p => Some(p._1)))
    assert(run(count(lit(1))) == prefixes.map(p => Some(p._2)))
    assert(run(min(col("v"))) ==
      prefixes.map(p => if (p._1 == 0) None else Some(p._4)))
    assert(run(max(col("v"))) ==
      prefixes.map(p => if (p._1 == 0) None else Some(p._5)))
    assert(run(avg(col("v"))) ==
      prefixes.map(p => if (p._1 == 0) None else Some(p._3.toDouble / p._1)))
    assert(run(sum(col("v"))) ==
      prefixes.map(p => if (p._1 == 0) None else Some(p._3)))
  }

  test("running avg never raises on Long overflow — degrades to the " +
    "double sum (native Average parity)") {
    import org.apache.spark.sql.expressions.Window
    // native window Average accumulates in Double and cannot overflow in
    // either eval mode; the scan must not raise (ANSI) or wrap (legacy)
    // where the operator it replaces returns a value. Values are
    // power-of-two scaled so every double sum is exact regardless of
    // partition combine order — the expectation is order-insensitive.
    val v1 = 1L << 62; val v2 = 1L << 62; val v3 = 1L << 61
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("t", "v")
      .repartition(3)
    val q = df.withColumn("a", avg(col("v")).over(
      Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GlobalScan"), p)
    val got = q.orderBy("t").select("a").as[Double].collect().toSeq
    // prefix 1 in Long range -> exact; prefixes 2 and 3 overflow Long
    // (2^63, 2^63 + 2^61) -> emitted from the double accumulator
    assert(got == Seq(v1.toDouble,
      (v1.toDouble + v2.toDouble) / 2,
      (v1.toDouble + v2.toDouble + v3.toDouble) / 3))
  }

  test("rule widens integral value columns: sum(int) plans GlobalScan, " +
    "min(int) keeps IntegerType") {
    import org.apache.spark.sql.expressions.Window
    val n = 500
    val df = spark.range(n).select(col("id").as("t"),
      ((col("id") * 13) % 97 - 48).cast("int").as("v"))
      .repartition(7)
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vs = (0L until n).map(i => ((i * 13) % 97 - 48).toInt)
    val qs = df.withColumn("rs", sum(col("v")).over(w))
    val ps = qs.queryExecution.executedPlan.toString
    assert(ps.contains("GlobalScan"), s"sum(int) not rewritten:\n$ps")
    assert(!ps.contains("Window"), ps)
    // sum(int) result type is the native window's LongType
    assert(qs.schema("rs").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(qs.orderBy("t").select("rs").as[Long].collect().toSeq ==
      vs.scanLeft(0L)(_ + _).drop(1))
    // the widening helper column must not leak into the output
    assert(qs.columns.toSeq == Seq("t", "v", "rs"))
    val qm = df.withColumn("mn", min(col("v")).over(w))
    val pm = qm.queryExecution.executedPlan.toString
    assert(pm.contains("GlobalScan"), s"min(int) not rewritten:\n$pm")
    // min(int) is int: the scan's long is narrowed back
    assert(qm.schema("mn").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(qm.orderBy("t").select("mn").as[Int].collect().toSeq ==
      vs.scanLeft(Int.MaxValue)(math.min).drop(1))
  }

  test("RANGE frame: every peer gets the tie-group total, for every kind") {
    import org.apache.spark.sql.expressions.Window
    val n = 3000
    // 5 distinct keys, nulls every 7th row: big tie groups, and the
    // null-until-first-non-null semantics exercised per kind
    val df = spark.range(n).select(
      (col("id") % 5).as("k"),
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 37) % 1001 - 500).as("v"))
      .repartition(13)
    val w = Window.orderBy(col("k")) // no frame clause -> default RANGE
    val vs: Map[Long, Seq[Option[Long]]] = (0L until n)
      .map(i => (i % 5, if (i % 7 == 0) None
        else Some((i * 37) % 1001 - 500)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // expected value per key = aggregate over ALL rows with key <= k
    def cum(k: Long): Seq[Long] =
      (0L to k).flatMap(vs(_)).flatten
    val q = df.select(col("k"), col("v"),
      sum(col("v")).over(w).as("rs"),
      count(col("v")).over(w).as("rc"),
      count(lit(1)).over(w).as("rr"),
      min(col("v")).over(w).as("rmn"),
      max(col("v")).over(w).as("rmx"),
      avg(col("v")).over(w).as("ra"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"RANGE window not rewritten:\n$p")
    assert("GlobalScan".r.findAllIn(p).size == 1,
      s"all six kinds must fuse into ONE scan node:\n$p")
    q.collect().foreach { r =>
      val k = r.getLong(0)
      val c = cum(k)
      assert(r.getLong(1 + 1) == c.sum, s"sum at k=$k")
      assert(r.getLong(3) == c.length.toLong, s"count at k=$k")
      assert(r.getLong(4) == (0L to k).map(vs(_).size).sum.toLong,
        s"count(*) at k=$k")
      assert(r.getLong(5) == c.min, s"min at k=$k")
      assert(r.getLong(6) == c.max, s"max at k=$k")
      assert(r.getDouble(7) == c.sum.toDouble / c.length, s"avg at k=$k")
    }
  }

  test("RANGE frame: tie groups SPANNING partitions get the full group " +
    "total via the driver's boundary chain") {
    import org.apache.spark.sql.expressions.Window
    val n = 4000
    // Stacked windows: the inner ROWS scan orders by (k, t) — unique —
    // and range-partitions on BOTH keys; the outer RANGE window orders
    // by k alone. RangePartitioning([k,t]) satisfies
    // OrderedDistribution([k]) (prefix), so NO second exchange is
    // inserted and rows with equal k genuinely span partition
    // boundaries — the only way the group total can come out right is
    // the driver-side leading-run chain.
    val df = spark.range(n).select(
      (col("id") % 3).as("k"), // 3 huge tie groups over ~32 partitions
      col("id").as("t"),
      ((col("id") * 13) % 97 - 48).as("v"))
      .repartition(17)
    val inner = Window.orderBy(col("k"), col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outer = Window.orderBy(col("k")) // default RANGE, massive ties
    val q = df
      .withColumn("a", sum(col("v")).over(inner))
      .withColumn("b", sum(col("v")).over(outer))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert("GlobalScan".r.findAllIn(p).size == 2, p)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1,
      s"outer scan must reuse the inner scan's range partitioning:\n$p")
    val vAt = (i: Long) => (i * 13) % 97 - 48
    val groupSum: Map[Long, Long] = (0L until 3L).map(g =>
      g -> (0L until n).filter(_ % 3 <= g).map(vAt).sum).toMap
    // every row of tie group k must carry the total over keys <= k —
    // no matter which physical partition the row sat in
    q.select("k", "b").collect().foreach { r =>
      assert(r.getLong(1) == groupSum(r.getLong(0)),
        s"k=${r.getLong(0)}")
    }
    // sanity: the rows-frame scan kept per-row prefixes (last row =
    // global total)
    assert(q.orderBy(col("k"), col("t")).select("a").as[Long]
      .collect().last == groupSum(2L))
  }

  test("multi-expression window fuses into ONE scan — one exchange, " +
    "one pass, no Window") {
    import org.apache.spark.sql.expressions.Window
    val n = 2000
    val df = spark.range(n).select(col("id").as("t"),
      when(col("id") % 5 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 17) % 301 - 150).as("v"))
      .repartition(9)
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // sum + count + avg written in ONE select — the analyzer places
    // all three in a single multi-expression Window node (chained
    // withColumns create separate nodes with rename-Projects between
    // them; those still share one exchange, but only the single-node
    // shape is guaranteed to fuse)
    val q = df.select(col("t"), col("v"),
      sum(col("v")).over(w).as("rs"),
      count(col("v")).over(w).as("rc"),
      avg(col("v")).over(w).as("ra"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"multi-expr window not rewritten:\n$p")
    assert("GlobalScan".r.findAllIn(p).size == 1,
      s"expected one fused multi-aggregate scan:\n$p")
    // exactly one planner-inserted exchange + sort (the RoundRobin
    // below is this test's own repartition(9), not the operator's)
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1,
      s"the fused scan must not re-shuffle:\n$p")
    assert("Sort ".r.findAllIn(p).size == 1,
      s"the fused scan must not re-sort:\n$p")
    val vs: Seq[Option[Long]] = (0L until n).map(i =>
      if (i % 5 == 0) None else Some((i * 17) % 301 - 150))
    val pre = vs.scanLeft((0L, 0L)) { case ((s, c), ov) =>
      ov.fold((s, c))(v => (s + v, c + 1)) }.drop(1)
    val got = q.orderBy("t").select("rs", "rc", "ra").collect()
    got.zip(pre).foreach { case (r, (s, c)) =>
      if (c == 0) { assert(r.isNullAt(0)); assert(r.isNullAt(2)) }
      else {
        assert(r.getLong(0) == s)
        assert(r.getDouble(2) == s.toDouble / c)
      }
      assert(r.getLong(1) == c)
    }
  }

  test("combineAvgOffsets: exactness is sticky-false from the first " +
    "overflowing partition") {
    val (so, dlo, ok) = GlobalScan.combineAvgOffsets(
      Array(Long.MaxValue, 10L, 5L),
      Array(Long.MaxValue.toDouble, 10.0, 5.0),
      Array(false, false, false))
    // partition 1 starts exact at MaxValue; folding partition 1's total
    // overflows, so partitions 2 and 3 start inexact
    assert(ok.toSeq == Seq(true, true, false, false))
    assert(so(1) == Long.MaxValue)
    assert(dlo(3) == Long.MaxValue.toDouble + 15.0)
    // a partition-local overflow invalidates everything after it
    val (_, _, ok2) = GlobalScan.combineAvgOffsets(
      Array(5L, 3L), Array(5.0, 3.0), Array(true, false))
    assert(ok2.toSeq == Seq(true, false, false))
  }

  test("driver-side offset combine raises on cross-partition overflow (ANSI)") {
    // partition 0's LOCAL sum is exactly Long.MaxValue (no within-partition
    // overflow); partition 1 adds 1 more — the overflow happens only when
    // the driver folds partition totals into exclusive offsets
    val sums = Array(Long.MaxValue, 1L, 5L)
    intercept[ArithmeticException](GlobalScan.combineOffsets(sums, ansi = true))
    // legacy wraps, same as the window sum it replaces
    val wrapped = GlobalScan.combineOffsets(sums, ansi = false)
    assert(wrapped.toSeq == Seq(0L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 5L))
  }

  test("multi-partition running sum raises on overflow end-to-end (ANSI)") {
    val df = spark.range(0, 400).select(col("id").as("t"),
      lit(Long.MaxValue / 100).as("v")).repartition(13)
    val rs = GlobalScan.runningSum(df, "v", "t" -> false)
    val e = intercept[Exception](rs.collect())
    def arithmetic(t: Throwable): Boolean = t != null &&
      (t.isInstanceOf[ArithmeticException] ||
        t.getMessage != null && t.getMessage.toLowerCase.contains("overflow") ||
        arithmetic(t.getCause))
    assert(arithmetic(e), e.toString)
  }

  test("generic extrema: running max over double / min over string / " +
    "max over timestamp plan GlobalScan and match a sequential fold") {
    import org.apache.spark.sql.expressions.Window
    val wRows = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = 3000
    // doubles with nulls; strings; timestamps arriving OUT OF ORDER
    // relative to t (the watermark shape: running max(ts) by arrival)
    val df = spark.range(n).select(col("id").as("t"),
      when(col("id") % 13 === 0, lit(null).cast("double"))
        .otherwise(sin(col("id")) * 1000).as("dv"),
      concat(lit("w"), format_string("%04d", (col("id") * 37) % 997))
        .as("sv"),
      timestamp_micros(col("id") * 1664525L % 1000000007L).as("tv"))
      .repartition(13)
    val rows = df.orderBy("t").collect()
    val q = df
      .withColumn("peak", max(col("dv")).over(wRows))
      .withColumn("lo", min(col("sv")).over(wRows))
      .withColumn("hwm", max(col("tv")).over(wRows))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Window"), p)
    // withColumn chaining leaves interleaved Projects, so the three
    // extrema land on stacked scans rather than one fused node — but
    // the stack must SHARE one range exchange + sort (outputPartitioning
    // passthrough), never re-shuffle per scan
    assert("ENSURE_REQUIREMENTS".r.findAllIn(p).size == 1 &&
      "Sort ".r.findAllIn(p).size == 1, p)
    val got = q.orderBy("t").collect()
    var peak: Option[Double] = None
    var lo: Option[String] = None
    var hwm: Option[java.sql.Timestamp] = None
    rows.zip(got).foreach { case (in, out) =>
      if (!in.isNullAt(1)) {
        val d = in.getDouble(1)
        peak = Some(peak.fold(d)(Math.max(_, d)))
      }
      val s = in.getString(2)
      lo = Some(lo.fold(s)(x => if (s < x) s else x))
      val ts = in.getTimestamp(3)
      hwm = Some(hwm.fold(ts)(x => if (ts.after(x)) ts else x))
      assert((if (out.isNullAt(4)) None
        else Some(out.getDouble(4))) == peak, s"peak at t=${in.getLong(0)}")
      assert(Option(out.getString(5)) == lo, s"lo at t=${in.getLong(0)}")
      assert(Option(out.getTimestamp(6)) == hwm,
        s"hwm at t=${in.getLong(0)}")
    }
  }

  test("generic extrema over the default RANGE frame: tie groups " +
    "spanning partitions share the group-end value") {
    import org.apache.spark.sql.expressions.Window
    // 30 groups of 100 rows across 13 range partitions; the string value
    // varies WITHIN each group, so the group-total max actually differs
    // from any prefix-by-row result (catches a ROWS/RANGE mix-up), and
    // the trailing-group chain must fold later partitions' leading runs
    val df = spark.range(3000).select(
      (col("id") / 100).cast("long").as("k"), col("id").as("t"),
      format_string("s%03d", (col("id") * 7) % 500).as("sv"))
      .repartition(13)
    val rows = df.orderBy("t").collect()
    val q = df.withColumn("gmax",
      max(col("sv")).over(Window.orderBy(col("k"))))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GlobalScan"), p)
    assert(!p.contains("Window"), p)
    // sequential oracle: per-prefix-of-groups max (group end value)
    val byGroup = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    var running: String = null
    val groupEnd = byGroup.map { case (k, rs) =>
      val m = rs.map(_.getString(2)).max
      running = if (running == null || m > running) m else running
      k -> running
    }.toMap
    q.orderBy("t").collect().zip(rows).foreach { case (out, in) =>
      assert(out.getString(3) == groupEnd(in.getLong(0)),
        s"t=${in.getLong(1)}")
    }
  }

  test("generic extrema: NULL until the first non-null value, and a " +
    "long-typed extremum stays on the primitive path") {
    import org.apache.spark.sql.expressions.Window
    val wRows = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = Seq((1L, None), (2L, Some("b")), (3L, None), (4L, Some("a")))
      .toDF("t", "s")
    val got = df.withColumn("mx", max(col("s")).over(wRows))
      .orderBy("t").select("mx").as[Option[String]].collect().toSeq
    assert(got == Seq(None, Some("b"), Some("b"), Some("b")))
  }

  test("runningSum overflow semantics follow the session's ANSI flag") {
    // runningSum must agree with the equivalent SQL window on THIS
    // session: wrap when ansi is off, raise when on (TestSpark runs ANSI
    // by default in Spark 4 — the end-to-end test above covers that arm)
    val was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = Seq((1L, Long.MaxValue), (2L, 1L)).toDF("t", "v")
      val got = GlobalScan.runningSum(df, "v", "t" -> false)
        .orderBy("t").select("running").as[Long].collect().toSeq
      assert(got == Seq(Long.MaxValue, Long.MinValue))
    } finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  test("a running sum over a LIMIT-bounded input keeps WindowExec") {
    import org.apache.spark.sql.expressions.Window
    // at most 10 rows at any data scale: the two-pass scan's extra jobs
    // and persist would be pure overhead over a one-task window
    val top = spark.range(1000).orderBy("id").limit(10)
      .withColumn("rs", sum(col("id")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("GlobalScan"), p)
    assert(top.orderBy("id").select("rs").as[Long].collect().toSeq ==
      (0L until 10L).scanLeft(0L)(_ + _).drop(1))
  }
}
