package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-14 statistics/TPC-H operators
  * (Mann-Whitney U, autocorrelation, token entropy, Q4/Q9/Q10/Q14
  * shapes) on the sf0.001 tables — cross-checks against independent
  * brute-force computations and conservation laws the DuckDB
  * hash-compare can't express. */
class StatsOpsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("rel_mann_whitney: U matches the brute-force pair count") {
    val row = run("rel_mann_whitney").head()
    val n1 = row.getAs[Long]("n1")
    val n2 = row.getAs[Long]("n2")
    val u1 = row.getAs[Double]("u1")
    val z = row.getAs[Double]("z")
    // brute force on the collected sf0.001 sample: U1 counts (a, b)
    // pairs with a > b, ties at half weight — the DEFINITION the
    // rank-sum shortcut must reproduce
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value")).collect()
    val a = ev.filter(_.getString(0) == "purchase").map(_.getDouble(1))
    val b = ev.filter(_.getString(0) == "click").map(_.getDouble(1))
    assert(n1 == a.length && n2 == b.length)
    val brute = a.iterator.map { x =>
      b.count(x > _) + 0.5 * b.count(x == _)
    }.sum
    assert(math.abs(u1 - brute) < 1e-6, s"u1 $u1 != brute $brute")
    // z is a finite standardized statistic; for samples this size the
    // normal approximation keeps it within a loose envelope
    assert(!z.isNaN && math.abs(z) < 50)
  }

  test("rel_autocorrelation: 24 lags, each in [-1, 1], lag-1 matches " +
      "a naive float pass") {
    val acf = run("rel_autocorrelation").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("acf")).toMap
    assert(acf.keySet == (1L to 24L).toSet)
    acf.values.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
    // independent naive recompute of lag-1 in plain doubles
    val ts = spark.read.parquet(s"$sf/events.parquet").select("ts")
    val hours = (ts.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ts.select(expr("ts div 3600000000000").as("h"))
      case _ => ts.select(expr("unix_micros(cast(ts as timestamp)) " +
        "div 3600000000").as("h"))
    }).groupBy("h").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    val mu = hours.values.sum / hours.size
    val den = hours.values.map(x => (x - mu) * (x - mu)).sum
    val num = hours.collect {
      case (h, x) if hours.contains(h + 1) => (x - mu) * (hours(h + 1) - mu)
    }.sum
    assert(math.abs(acf(1L) - num / den) < 1e-4,
      s"acf(1) ${acf(1L)} != naive ${num / den}")
  }

  test("text_token_entropy: bounds and token-mass conservation") {
    val e = run("text_token_entropy").collect()
    assert(e.nonEmpty)
    e.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val distinct = r.getAs[Long]("n_distinct")
      assert(h >= -1e-6, s"negative entropy $h")
      assert(h <= math.log(distinct.toDouble) / math.log(2.0) + 1e-6,
        s"entropy $h exceeds log2($distinct)")
    }
    // Σ n_tokens over langs equals the corpus token count under the
    // same scrub+tokenize pipeline
    val total = e.map(_.getAs[Long]("n_tokens")).sum
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ops.TextOps.tokenize(
        graft.ops.TextOps.scrub(col("text")))).as("t"))
      .where(length(col("t")) > 0).count()
    assert(total == direct, s"$total != $direct")
  }

  test("rel_q14_promo: promo_rev <= total_rev and pct consistent") {
    val rows = run("rel_q14_promo").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val promo = r.getAs[Double]("promo_rev")
      val tot = r.getAs[Double]("total_rev")
      val pct = r.getAs[Double]("promo_pct")
      assert(promo >= 0 && promo <= tot + 1e-9)
      assert(math.abs(pct - 100.0 * promo / tot) < 1e-5)
    }
  }

  test("rel_q10_returned: exactly <=20 rows, sorted cut is the true " +
      "top set") {
    val rows = run("rel_q10_returned").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_: Double)),
      "revenue not descending")
  }

  test("rel_q4_late_orders: counts bounded by orders per priority") {
    val late = run("rel_q4_late_orders").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_late_orders")).toMap
    val all = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(late.nonEmpty)
    late.foreach { case (p, n) =>
      assert(n <= all(p), s"$p: late $n > total ${all(p)}")
    }
  }

  test("rel_gini_revenue: matches brute-force Gini, bounded") {
    val row = run("rel_gini_revenue").head()
    val gini = row.getAs[Double]("gini")
    assert(gini >= 0.0 && gini < 1.0, s"gini $gini out of range")
    // brute force on collected per-customer cents
    val cents = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(r => (r._2, r._1)).map(_._2)
    val n = cents.length.toDouble
    val s0 = cents.map(BigInt(_)).sum
    val sic = cents.zipWithIndex
      .map { case (x, i) => BigInt(i + 1) * x }.sum
    val brute = (BigDecimal(2 * sic) - BigDecimal((n + 1).toLong) *
      BigDecimal(s0)).toDouble / (n * s0.toDouble)
    assert(math.abs(gini - brute) < 1e-6, s"$gini != $brute")
    assert(row.getAs[Long]("n_customers") == cents.length)
  }

  test("text_zipf_fit: negative slope, r2 in [0,1], full vocab") {
    val row = run("text_zipf_fit").head()
    assert(row.getAs[Double]("slope") < 0, "zipf slope must be negative")
    val r2 = row.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
    val vocab = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ops.TextOps.tokenize(
        graft.ops.TextOps.scrub(col("text")))).as("t"))
      .where(length(col("t")) > 0).select("t").distinct().count()
    assert(row.getAs[Long]("n_terms") == vocab)
  }

  test("rel_hll_intersect_bounded: contract holds, exact side correct") {
    val row = run("rel_hll_intersect_bounded").head()
    assert(row.getAs[Long]("within_bound") == 1L)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val a = ev.where(col("event_type") === "purchase")
      .select("user_id").distinct()
    val b = ev.where(col("event_type") === "click")
      .select("user_id").distinct()
    assert(row.getAs[Long]("exact_in") == a.join(b, "user_id").count())
  }

  test("rel_q9_profit: groups partition the joined fact rows") {
    // profit rows exist for every (nation, year) present in the join;
    // spot-check the join cardinality conservation instead of money
    // values (those are oracle-checked): Σ years per nation covers all
    // order years present in lineitem⨝orders
    val years = run("rel_q9_profit").select("o_year").distinct()
      .collect().map(_.getLong(0)).toSet
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(year(col("o_orderdate")).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(years == expect, s"$years != $expect")
  }

  test("rel_ks_test: D matches a brute-force ECDF sweep") {
    val row = run("rel_ks_test").head()
    val n1 = row.getAs[Long]("n1")
    val n2 = row.getAs[Long]("n2")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value")).collect()
    val a = ev.filter(_.getString(0) == "purchase").map(_.getDouble(1))
    val b = ev.filter(_.getString(0) == "click").map(_.getDouble(1))
    assert(n1 == a.length && n2 == b.length)
    // exact rational sweep: max |n2*cumA - n1*cumB| over the merged
    // distinct values (BigInt — the definition, no shortcut algebra)
    val values = (a ++ b).distinct.sorted
    val dnum = values.map { v =>
      (BigInt(b.length) * a.count(_ <= v) -
        BigInt(a.length) * b.count(_ <= v)).abs
    }.max
    val d = dnum.toDouble / (n1.toDouble * n2.toDouble)
    assert(math.abs(row.getAs[Double]("ks_d") - d) < 1e-6)
    val ks = math.sqrt(n1.toDouble * n2 / (n1.toDouble + n2)) * d
    assert(math.abs(row.getAs[Double]("ks_stat") - ks) < 1e-6)
  }

  test("rel_survival_curve: KM product recomputes, risk set conserves") {
    val rows = run("rel_survival_curve").collect()
      .map(r => (r.getAs[Long]("dur_day"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("deaths"), r.getAs[Long]("censored"),
        r.getAs[Double]("surv"))).sortBy(_._1)
    assert(rows.nonEmpty)
    // the first risk set is every user with a signup; every row's risk
    // set is total minus everyone who died/censored strictly earlier
    val users = spark.read.parquet(s"$sf/events.parquet")
      .where(col("event_type") === "signup")
      .select("user_id").distinct().count()
    assert(rows.map(r => r._3 + r._4).sum == users,
      "every user dies or censors exactly once")
    var seen = 0L
    var s = 1.0
    rows.foreach { case (_, nRisk, d, c, surv) =>
      assert(nRisk == users - seen, s"risk set $nRisk != ${users - seen}")
      seen += d + c
      s *= (if (d < nRisk) 1.0 - d.toDouble / nRisk else 0.0)
      assert(math.abs(surv - s) < 1e-4, s"KM product $surv != $s")
    }
    // survival is non-increasing from 1
    rows.map(_._5).foldLeft(1.0) { (prev, cur) =>
      assert(cur <= prev + 1e-9); cur
    }
  }

  test("rel_seasonal_anomaly: z matches a brute-force per-hour-of-day " +
      "standardization") {
    val rows = run("rel_seasonal_anomaly").collect()
      .map(r => (r.getAs[String]("hour"), r.getAs[Long]("hod"),
        r.getAs[Long]("cnt"),
        Option(r.getAs[Any]("z")).map(_.asInstanceOf[Double])))
    assert(rows.nonEmpty)
    // brute force: group the hourly counts by hour-of-day, population
    // moments, z = (x - mu) / sigma
    val byHod = rows.groupBy(_._2)
    rows.foreach { case (hour, hod, cnt, z) =>
      assert(hour.substring(11, 13).toInt == hod.toInt,
        s"hod $hod disagrees with hour string $hour")
      val xs = byHod(hod).map(_._3.toDouble)
      val mu = xs.sum / xs.length
      val v = xs.map(x => x * x).sum / xs.length - mu * mu
      if (v > 0)
        assert(math.abs(z.get - (cnt - mu) / math.sqrt(v)) < 1e-4,
          s"z at $hour")
      else assert(z.isEmpty, s"zero-variance hod $hod must yield null z")
    }
    // every hour-of-day baseline standardizes to mean ~0 within itself
    byHod.values.filter(_.flatMap(_._4).nonEmpty).foreach { g =>
      val zs = g.flatMap(_._4)
      assert(math.abs(zs.sum / zs.length) < 1e-3)
    }
  }

  test("rel_changepoint_hourly: argmax matches a brute-force CUSUM " +
      "sweep and the means recompute") {
    val row = run("rel_changepoint_hourly").head()
    // brute force over the hourly series
    val h = run("rel_cusum_hourly").collect()
      .map(r => (r.getAs[String]("hour"), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    val n = h.length
    val total = h.map(_._2).sum
    val devs = h.scanLeft(0L)(_ + _._2).drop(1).zipWithIndex.map {
      case (run, i) => (BigInt(run) * n - BigInt(i + 1) * total).abs
    }
    val bestIdx = devs.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
    assert(row.getAs[String]("hour") == h(bestIdx)._1,
      s"argmax hour ${row.getAs[String]("hour")} != ${h(bestIdx)._1}")
    assert(math.abs(row.getAs[Double]("cusum_abs") -
      (devs(bestIdx).toDouble / n)) < 1e-3)
    val runAt = h.take(bestIdx + 1).map(_._2).sum
    val before = runAt.toDouble / (bestIdx + 1)
    assert(math.abs(row.getAs[Double]("mean_before") - before) < 1e-4)
    if (bestIdx < n - 1) {
      val after = (total - runAt).toDouble / (n - bestIdx - 1)
      assert(math.abs(row.getAs[Double]("mean_after") - after) < 1e-4)
      assert(math.abs(row.getAs[Double]("shift") - (after - before))
        < 1e-4)
    }
  }

  test("rel_theil_index: decomposition reassembles the brute-force " +
      "total Theil index") {
    val rows = run("rel_theil_index").collect()
      .map(r => (r.getAs[String]("nation"), r.getAs[Long]("ng"),
        r.getAs[Double]("share"), r.getAs[Double]("theil_within"),
        r.getAs[Double]("between_term")))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4,
      "shares sum to 1")
    rows.foreach(r => assert(r._4 >= -1e-9, s"T_within < 0 for ${r._1}"))
    // brute-force total Theil over per-customer revenue cents
    val rev = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .select("c").collect().map(_.getLong(0).toDouble)
    val mu = rev.sum / rev.length
    val total = rev.map(x => (x / mu) * math.log(x / mu)).sum / rev.length
    val reassembled = rows.map(r => r._3 * r._4).sum +
      rows.map(_._5).sum
    assert(math.abs(reassembled - total) < 1e-3,
      s"decomposition $reassembled != brute $total")
    assert(rows.map(_._2).sum == rev.length)
  }

  test("rel_welch_ttest: t and df match a brute-force two-sample pass") {
    val row = run("rel_welch_ttest").head()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value")).collect()
    def cents(r: org.apache.spark.sql.Row) =
      math.round(r.getDouble(1) * 100) / 100.0
    val a = ev.filter(_.getString(0) == "purchase").map(cents)
    val b = ev.filter(_.getString(0) == "click").map(cents)
    assert(row.getAs[Long]("n1") == a.length)
    assert(row.getAs[Long]("n2") == b.length)
    def meanVar(x: Array[Double]) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val (m1, v1) = meanVar(a); val (m2, v2) = meanVar(b)
    val se = v1 / a.length + v2 / b.length
    val t = (m1 - m2) / math.sqrt(se)
    val df = se * se /
      ((v1 / a.length) * (v1 / a.length) / (a.length - 1) +
       (v2 / b.length) * (v2 / b.length) / (b.length - 1))
    assert(math.abs(row.getAs[Double]("mean_diff") - (m1 - m2)) < 1e-4)
    assert(math.abs(row.getAs[Double]("t_stat") - t) < 1e-3,
      s"t ${row.getAs[Double]("t_stat")} != brute $t")
    assert(math.abs(row.getAs[Double]("df") - df) < 0.5)
  }

  test("rel_jackknife_mean: LOO means recompute, influences sum to " +
      "~0 weighted") {
    val rows = run("rel_jackknife_mean").collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("nd"),
        r.getAs[Double]("mean_loo"), r.getAs[Double]("influence")))
    assert(rows.nonEmpty)
    val byDay = SparkEntry.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select(to_date(col("ts")).cast("string").as("day"), col("value"))
      .collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).view.mapValues(vs =>
        (vs.length.toLong, vs.map(_._2).sum)).toMap
    val n = byDay.values.map(_._1).sum
    val s = byDay.values.map(_._2).sum
    assert(rows.map(_._2).sum == n)
    rows.foreach { case (day, nd, loo, infl) =>
      val (bn, bs) = byDay(day)
      assert(bn == nd)
      val want = (s - bs).toDouble / 100.0 / (n - bn)
      assert(math.abs(loo - want) < 1e-4, s"$day loo $loo != $want")
      val theta = s.toDouble / 100.0 / n
      assert(math.abs(infl - (theta - want)) < 1e-4)
    }
  }

  test("rel_snaive_backtest: MAE/RMSE match a brute-force lag-24 " +
      "residual pass, RMSE >= MAE") {
    val rows = run("rel_snaive_backtest").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("mae"), r.getAs[Double]("rmse")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, mae, rmse) =>
      assert(rmse >= mae - 1e-9, "RMSE dominates MAE")
    }
    val series = SparkEntry.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .groupBy("event_type", "hr").count().collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2)))
    rows.foreach { case (tpe, n, mae, rmse) =>
      val cnts = series.filter(_._1 == tpe).sortBy(_._2).map(_._3)
      val errs = cnts.drop(24).zip(cnts.dropRight(24))
        .map { case (c, f) => (c - f).toDouble }
      assert(errs.length == n)
      assert(math.abs(mae - errs.map(math.abs).sum / n) < 1e-4)
      assert(math.abs(rmse -
        math.sqrt(errs.map(e => e * e).sum / n)) < 1e-4)
    }
  }

  test("rel_psi_drift: psi >= 0 and matches a brute-force " +
      "smoothed-bucket computation for one type") {
    val rows = run("rel_psi_drift").collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_buckets"), r.getAs[Double]("psi")))
    assert(rows.nonEmpty)
    // every (p-q)ln(p/q) term is >= 0, so psi is
    rows.foreach(r => assert(r._3 >= -1e-9, s"psi < 0 for ${r._1}"))
    val ev = SparkEntry.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("t"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val tpe = rows.head._1
    val g = ev.filter(_._1 == tpe)
      .map(e => (java.lang.Long.toBinaryString(e._3).length,
        e._2 < mid))
    val buckets = g.map(_._1).distinct
    assert(rows.find(_._1 == tpe).get._2 == buckets.length)
    val nr = g.count(_._2); val nc = g.length - nr
    val psi = buckets.map { bkt =>
      val cr = g.count(x => x._1 == bkt && x._2)
      val cc = g.count(x => x._1 == bkt && !x._2)
      val p = (cr + 1.0) / (nr + buckets.length)
      val q = (cc + 1.0) / (nc + buckets.length)
      BigDecimal((p - q) * math.log(p / q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sum
    assert(math.abs(rows.find(_._1 == tpe).get._3 - psi) < 1e-5,
      s"psi ${rows.find(_._1 == tpe).get._3} != brute $psi")
  }

  test("stream_psi_drift: replayed-stream PSI equals the batch PSI " +
      "per type") {
    val want = run("rel_psi_drift").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_buckets"), r.getAs[Double]("psi"))).toMap
    val got = run("stream_psi_drift").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_buckets"), r.getAs[Double]("psi"))).toMap
    // counts are associative, so the unordered multi-batch replay must
    // reproduce the batch histogram — and therefore the batch PSI
    assert(got == want, s"$got != $want")
    got.values.foreach { case (nb, psi) =>
      assert(nb <= 64, "bit-length buckets bound the state")
      assert(psi >= -1e-9)
    }
  }

  test("rel_anova_f: F matches a brute-force k-group decomposition") {
    val row = run("rel_anova_f").head()
    val groups = SparkEntry.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100) / 100.0))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = groups.size
    val n = groups.values.map(_.length).sum
    assert(row.getAs[Long]("k") == k && row.getAs[Long]("n") == n)
    val grand = groups.values.flatten.sum / n
    val ssb = groups.values
      .map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.values
      .map(g => { val m = g.sum / g.length
        g.map(x => (x - m) * (x - m)).sum }).sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(row.getAs[Double]("ss_between") - ssb) < 0.5,
      s"ssb ${row.getAs[Double]("ss_between")} != $ssb")
    assert(math.abs(row.getAs[Double]("ss_within") - ssw) < 0.5)
    assert(math.abs(row.getAs[Double]("f_stat") - f) < 1e-3,
      s"F ${row.getAs[Double]("f_stat")} != $f")
  }

  test("rel_cramers_v: chi2 and V match a brute-force contingency " +
      "table, V in [0,1]") {
    val row = run("rel_cramers_v").head()
    val cells = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val n = cells.length
    val rows = cells.map(_._1).distinct.length
    val cols = cells.map(_._2).distinct.length
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("r") == rows && row.getAs[Long]("c") == cols)
    val joint = cells.groupBy(identity).view.mapValues(_.length)
    val rm = cells.groupBy(_._1).view.mapValues(_.length)
    val cm = cells.groupBy(_._2).view.mapValues(_.length)
    val chi2 = joint.map { case ((nk, seg), o) =>
      val e = rm(nk).toDouble * cm(seg) / n
      (o - e) * (o - e) / e
    }.sum
    val v = math.sqrt(chi2 / (n.toDouble * math.min(rows - 1, cols - 1)))
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 0.01)
    val gotV = row.getAs[Double]("cramers_v")
    assert(math.abs(gotV - v) < 1e-4)
    assert(gotV >= 0 && gotV <= 1 + 1e-9)
  }

  test("rel_spearman_corr: matches a brute-force tie-averaged rank " +
      "correlation") {
    val row = run("rel_spearman_corr").head()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(round(col("l_quantity")).cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(row.getAs[Long]("n") == li.length)
    def avgRanks(xs: Array[Long]): Map[Long, Double] = {
      val sorted = xs.sorted
      xs.distinct.map { v =>
        val lo = sorted.indexWhere(_ == v) + 1
        val hi = sorted.lastIndexWhere(_ == v) + 1
        v -> (lo + hi) / 2.0
      }.toMap
    }
    val rx = avgRanks(li.map(_._1)); val ry = avgRanks(li.map(_._2))
    val pairs = li.map { case (x, y) => (rx(x), ry(y)) }
    val n = pairs.length
    val mx = pairs.map(_._1).sum / n; val my = pairs.map(_._2).sum / n
    val cov = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
    val vx = pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val vy = pairs.map(p => (p._2 - my) * (p._2 - my)).sum
    val rho = cov / math.sqrt(vx * vy)
    assert(math.abs(row.getAs[Double]("spearman") - rho) < 1e-4,
      s"spearman ${row.getAs[Double]("spearman")} != brute $rho")
  }

  test("rel_quantile_partials: serving from per-day histogram partials " +
    "equals the direct readout on the sliced raw events") {
    // pre-aggregation invariance: merging (event_type, day, bucket)
    // count partials over the day range must give the same p50/p95 as
    // bucketing the range's raw rows directly — histograms are
    // mergeable by sum, so the served slice never needs the raw scan
    val served = run("rel_quantile_partials").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val ev = SparkEntry.events(spark, sf).select(col("event_type"),
      unix_date(to_date(col("ts"))).cast("long").as("day"),
      length(bin(round(col("value") * 100).cast("long"))).as("bucket"))
    val d1 = ev.agg(max(col("day"))).head().getLong(0)
    val raw = ev.where(col("day") > d1 - 7)
      .collect().map(r => (r.getString(0), r.getInt(2)))
    assert(raw.nonEmpty)
    val direct = raw.groupBy(_._1).map { case (tpe, rows) =>
      val buckets = rows.map(_._2).sorted
      val n = buckets.length.toLong
      def pick(rank: Long) = buckets((rank - 1).toInt)
      tpe -> (n,
        math.pow(2.0, pick((n + 1) / 2)) / 100.0,
        math.pow(2.0, pick((19 * n + 19) / 20)) / 100.0)
    }
    assert(served == direct,
      s"partial-served quantiles diverged from the raw slice:\n" +
        s"$served\nvs\n$direct")
  }
}
