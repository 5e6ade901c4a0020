package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-16 operators (AUC-ROC, calibration
  * bins, Cohen's kappa, NDCG@10, grid radius join, join-view IVM,
  * double-EWMA trend) on the sf0.001 tables — brute-force recomputes and
  * conservation laws beyond the DuckDB hash compare. */
class MlEvalSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def collectedEvents() =
    SparkEntry.events(spark, sf)
      .select(col("event_type"), col("value"), col("user_id"),
        col("event_id"))
      .collect()

  test("rel_auc_roc matches the brute-force pair count") {
    val row = run("rel_auc_roc").head()
    val n1 = row.getAs[Long]("n1")
    val n0 = row.getAs[Long]("n0")
    val auc = row.getAs[Double]("auc")
    val ev = collectedEvents().map(r =>
      (math.round(r.getDouble(1) * 100), r.getString(0) == "purchase"))
    val pos = ev.filter(_._2).map(_._1)
    val neg = ev.filterNot(_._2).map(_._1)
    assert(n1 == pos.length && n0 == neg.length)
    val brute = pos.iterator.map { p =>
      neg.count(p > _) + 0.5 * neg.count(p == _)
    }.sum / (pos.length.toDouble * neg.length)
    assert(math.abs(auc - brute) < 1e-6, s"auc $auc != brute $brute")
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("rel_calibration_bins conserves counts and the global base rate") {
    val bins = run("rel_calibration_bins").collect()
    assert(bins.length == 10)
    assert(bins.map(_.getAs[Long]("bin")).sorted.sameElements(0L until 10L))
    val ev = collectedEvents()
    assert(bins.map(_.getAs[Long]("n")).sum == ev.length)
    bins.foreach { b =>
      val r = b.getAs[Double]("pos_rate")
      assert(r >= 0.0 && r <= 1.0)
      val m = b.getAs[Double]("mean_score")
      // bin b holds cents in [10b, 10b+9] → mean in [0.10b, 0.10b+0.09]
      val lo = b.getAs[Long]("bin") * 0.10
      assert(m >= lo - 1e-9 && m <= lo + 0.09 + 1e-9, s"mean $m bin $lo")
    }
    val base = ev.count(_.getString(0) == "purchase").toDouble / ev.length
    val weighted = bins.map(b =>
      b.getAs[Double]("pos_rate") * b.getAs[Long]("n")).sum / ev.length
    assert(math.abs(weighted - base) < 1e-5)
  }

  test("rel_cohens_kappa matches a brute-force recompute") {
    val row = run("rel_cohens_kappa").head()
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderstatus"), year(col("o_orderdate")).as("y"))
      .collect()
      .map(r => (r.getString(0) == "F", r.getInt(1) <= 1997))
    val n = o.length.toDouble
    val po = o.count(p => p._1 == p._2) / n
    val pa = o.count(_._1) / n
    val pb = o.count(_._2) / n
    val pe = pa * pb + (1 - pa) * (1 - pb)
    val kappa = (po - pe) / (1 - pe)
    assert(row.getAs[Long]("n") == o.length)
    assert(math.abs(row.getAs[Double]("po") - po) < 1e-6)
    assert(math.abs(row.getAs[Double]("pe") - pe) < 1e-6)
    assert(math.abs(row.getAs[Double]("kappa") - kappa) < 1e-6)
    assert(row.getAs[Double]("kappa") >= -1.0 &&
      row.getAs[Double]("kappa") <= 1.0)
  }

  test("rel_ndcg_eval matches the brute-force linear-discount NDCG") {
    val row = run("rel_ndcg_eval").head()
    val rel = Map("purchase" -> 3L, "signup" -> 2L, "click" -> 1L)
    val byUser = collectedEvents()
      .map(r => (r.getLong(2),
        (math.round(r.getDouble(1) * 100), r.getLong(3),
          rel.getOrElse(r.getString(0), 0L))))
      .groupBy(_._1).view.mapValues(_.map(_._2))
    val ndcgs = byUser.values.flatMap { evs =>
      val dcg = evs.sortBy(e => (-e._1, e._2)).take(10).zipWithIndex
        .map { case (e, i) => e._3 * (2520L / (i + 1)) }.sum
      val idcg = evs.sortBy(e => (-e._3, e._2)).take(10).zipWithIndex
        .map { case (e, i) => e._3 * (2520L / (i + 1)) }.sum
      if (idcg == 0) None
      else Some(math.rint(dcg.toDouble / idcg * 1e6) / 1e6)
    }.toSeq
    assert(row.getAs[Long]("n_users") == ndcgs.length)
    val mean = ndcgs.sum / ndcgs.length
    assert(math.abs(row.getAs[Double]("mean_ndcg") - mean) < 1e-5)
    ndcgs.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("rel_geo_radius_join: the grid join finds every in-radius pair") {
    val row = run("rel_geo_radius_join").head()
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
      .map(k => ((k * 48271) % 100000, (k * 69621) % 100000))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey").collect().map(_.getLong(0))
      .map(k => ((k * 48271 + 12345) % 100000, (k * 69621 + 54321) % 100000))
    val d2s = for {
      (cx, cy) <- cust; (sx, sy) <- supp
      d2 = (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
      if d2 <= 25000000L
    } yield d2
    assert(row.getAs[Long]("n_pairs") == d2s.length)
    assert(row.getAs[Double]("sum_d2") == d2s.map(BigInt(_)).sum.toDouble)
    assert(row.getAs[Long]("min_d2") == d2s.min)
  }

  test("rel_ivm_join: merge equals recompute-from-scratch") {
    val merged = run("rel_ivm_join").collect()
      .map(r => r.getAs[Int]("c_nationkey") -> r.getAs[Double]("rev_cents"))
      .toMap
    val full = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      .collect()
      .map(r => r.getAs[Int]("c_nationkey") -> r.getAs[Long]("rev").toDouble)
      .toMap
    assert(merged == full)
  }

  test("rel_isotonic_fit matches stack-based PAV and is monotone") {
    val got = run("rel_isotonic_fit").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
        r.getAs[Double]("raw_rate"), r.getAs[Double]("fit_rate")))
      .sortBy(_._1)
    // monotone nondecreasing
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 + 1e-9, s"fit not monotone at bin ${b._1}")
    }
    // classic pool-adjacent-violators on the same bins
    case class Pool(var w: Double, var sum: Double) {
      def mean: Double = sum / w
    }
    val pools = scala.collection.mutable.ArrayBuffer[(Pool, Int)]()
    got.foreach { case (_, n, raw, _) =>
      pools += ((Pool(n.toDouble, raw * n), 1))
      while (pools.length > 1 &&
        pools(pools.length - 2)._1.mean >= pools.last._1.mean - 1e-12) {
        val (p2, c2) = pools.remove(pools.length - 1)
        val (p1, c1) = pools.last
        p1.w += p2.w; p1.sum += p2.sum
        pools(pools.length - 1) = (p1, c1 + c2)
      }
    }
    val pav = pools.flatMap { case (p, c) => Seq.fill(c)(p.mean) }
    got.map(_._4).zip(pav).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-5, s"bin $i: fit $g != pav $w")
    }
  }

  test("rel_bootstrap_ci replays the deterministic Poisson weights") {
    val row = run("rel_bootstrap_ci").head()
    assert(row.getAs[Long]("n_replicas") == 20L)
    val lo = row.getAs[Double]("boot_lo")
    val hi = row.getAs[Double]("boot_hi")
    assert(lo <= hi)
    // brute replay with java's own md5 + the shared affine mixes
    val md = java.security.MessageDigest.getInstance("MD5")
    def seed(key: Long): Long = {
      val h = md.digest(key.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16)
    }
    val th = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    val mix = graft.registry.RelStatQueries.bootMix
      .map(m => m._1.toInt -> (m._2, m._3)).toMap
    val P = graft.registry.RelStatQueries.BootP
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (seed(r.getLong(0)), r.getLong(1)))
    val ms = (0 until 20).map { b =>
      val (a, c) = mix(b)
      var swc = BigInt(0); var sw = 0L
      o.foreach { case (x, cents) =>
        val u = ((a * (x % P) + c) % P).toDouble / P.toDouble
        val w = th.indexWhere(u < _) match {
          case -1 => 6L; case i => i.toLong
        }
        swc += BigInt(w) * cents; sw += w
      }
      swc.toDouble / sw
    }.sorted
    assert(math.abs(lo - math.rint(ms(1) * 1e6) / 1e6) < 1e-6)
    assert(math.abs(hi - math.rint(ms(18) * 1e6) / 1e6) < 1e-6)
    // the point estimate sits inside the (loose) bootstrap envelope
    val mean = row.getAs[Double]("mean_cents")
    assert(mean >= lo - (hi - lo) && mean <= hi + (hi - lo))
  }

  test("rel_seasonal_smoothing: 24 slots, index normalizes to mean 1") {
    val got = run("rel_seasonal_smoothing").collect()
      .map(r => (r.getAs[Long]("hod"), r.getAs[Double]("ewma"),
        r.getAs[Double]("seasonal_idx")))
    assert(got.map(_._1).sorted.sameElements(0L until 24L))
    val idxMean = got.map(_._3).sum / 24
    assert(math.abs(idxMean - 1.0) < 1e-4)
    // slot 0's fold matches a sequential recompute
    val daily = SparkEntry.events(spark, sf)
      .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .where(col("hod") === 0)
      .groupBy("day").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).sortBy(_._1)
    var acc = 0.0
    daily.foreach { case (_, x) => acc = 0.75 * acc + 0.25 * x }
    val slot0 = got.find(_._1 == 0L).get._2
    assert(math.abs(slot0 - math.rint(acc * 1e6) / 1e6) < 1e-9)
  }

  test("rel_cms_selfjoin_size: estimate never undershoots the exact F2") {
    val row = run("rel_cms_selfjoin_size").head()
    val exact = row.getAs[Double]("f2_exact")
    val est = row.getAs[Double]("f2_est")
    assert(est >= exact, s"CMS inner product $est < exact $exact")
    assert(row.getAs[Double]("blowup") >= 1.0)
    val brute = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_partkey").count().collect()
      .map(r => BigInt(r.getLong(1)) * r.getLong(1)).sum
    assert(exact == brute.toDouble)
  }

  test("rel_pr_curve: recall descends with the threshold, endpoints pin") {
    val rows = run("rel_pr_curve").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("pp"),
        r.getAs[Long]("tp"), r.getAs[Double]("precision"),
        r.getAs[Double]("recall"))).sortBy(_._1)
    assert(rows.length == 10)
    // recall is non-increasing in the threshold; t=0 predicts everything
    rows.sliding(2).foreach { case Array(a, b) => assert(a._5 >= b._5) }
    val ev = collectedEvents()
    assert(rows.head._2 == ev.length)
    assert(rows.head._5 == 1.0)
    val basePrec = ev.count(_.getString(0) == "purchase").toDouble / ev.length
    assert(math.abs(rows.head._4 - basePrec) < 1e-6)
    rows.foreach { r => assert(r._3 <= r._2) }
  }

  test("emb_knn_accuracy matches a brute-force vote") {
    val row = run("emb_knn_accuracy").head()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    val queries = emb.filter(_._1 < 50)
    assert(row.getAs[Long]("n_queries") == queries.length)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val correct = queries.count { case (qid, qv, qlabel) =>
      val top = emb.filter(_._1 != qid)
        .map { case (id, v, l) => (cos(qv, v), id, l) }
        .sortBy(t => (-t._1, t._2)).take(10)
      val pred = top.groupBy(_._3).view.mapValues(_.length).toSeq
        .sortBy(t => (-t._2, t._1)).head._1
      pred == qlabel
    }
    assert(row.getAs[Long]("n_correct") == correct)
    val acc = row.getAs[Double]("accuracy")
    assert(math.abs(acc - correct.toDouble / queries.length) < 1e-6)
  }

  test("rel_holt_winters_forecast composes the trend and seasonal parts") {
    val fc = run("rel_holt_winters_forecast").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("hod"),
        r.getAs[Double]("forecast"))).sortBy(_._1)
    assert(fc.length == 24)
    assert(fc.map(_._1).sameElements(1L to 24L))
    // recompute from the two component queries
    val tr = run("rel_double_ewma_trend").collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"))).maxBy(_._1)
    val si = run("rel_seasonal_smoothing").collect()
      .map(r => r.getAs[Long]("hod") -> r.getAs[Double]("seasonal_idx"))
      .toMap
    fc.foreach { case (k, hod, f) =>
      assert(hod == (tr._1 + k) % 24)
      val want = (tr._2 + k * tr._3) * si(hod)
      // components are rounded to 6 before this recompute, so allow the
      // accumulated rounding slack
      assert(math.abs(f - want) < 2e-4, s"k=$k: $f vs $want")
    }
  }

  test("rel_double_ewma_trend is bit-exact vs a sequential fold") {
    // bit-exactness holds BECAUSE the O(hours) frame repartitions to one
    // partition before the GlobalRecur scans (the multi-partition affine
    // splice rounds differently from a sequential fold in the last
    // ulps) — pin that the single-partition contract stays
    val df = run("rel_double_ewma_trend")
    assert(df.rdd.getNumPartitions == 1,
      "the hourly recurrence chain must run on one partition for the " +
        "sequential-fold bit-exactness contract")
    val got = df.collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Double]("s1"),
        r.getAs[Double]("s2"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"))).sortBy(_._1)
    val hours = SparkEntry.events(spark, sf)
      .select(expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy("h").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).sortBy(_._1)
    var s1 = 0.0; var s2 = 0.0
    val want = hours.map { case (h, x) =>
      s1 = 0.75 * s1 + 0.25 * x
      s2 = 0.75 * s2 + 0.25 * s1
      (h, math.rint(s1 * 1e6) / 1e6, math.rint(s2 * 1e6) / 1e6,
        math.rint((2.0 * s1 - s2) * 1e6) / 1e6,
        math.rint((s1 - s2) / 3.0 * 1e6) / 1e6)
    }
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1)
      assert(math.abs(g._2 - w._2) < 1e-9, s"s1 at h=${g._1}")
      assert(math.abs(g._3 - w._3) < 1e-9, s"s2 at h=${g._1}")
      assert(math.abs(g._4 - w._4) < 1e-9, s"level at h=${g._1}")
      assert(math.abs(g._5 - w._5) < 1e-9, s"trend at h=${g._1}")
    }
  }

  test("rel_asof_nearest matches a brute-force nearest-with-tolerance " +
    "scan") {
    val tol = 900L * 1000000L
    val evs = SparkEntry.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = evs.groupBy(_._1)
    val want = evs.filter(_._3 == "purchase").map {
      case (u, eid, _, t) =>
        val all = byUser(u).sortBy(e => (e._4, e._2))
        val idx = all.indexWhere(e => e._2 == eid)
        // strictly prior in (ts, event_id) order / strictly after
        val pv = all.take(idx).filter(_._3 == "view").map(_._4)
          .sorted.lastOption
        val nv = all.drop(idx + 1).filter(_._3 == "view").map(_._4)
          .sorted.headOption
        val db = pv.map(t - _)
        val df = nv.map(_ - t)
        val nearest = (db, df) match {
          case (Some(b), _) if b <= tol &&
            df.forall(f => b <= f || f > tol) => pv
          case (_, Some(f)) if f <= tol => nv
          case _ => None
        }
        eid -> nearest
    }.toMap
    val got = run("rel_asof_nearest").collect().map(r =>
      r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("nearest_view_us"))
          .map(_.longValue())).toMap
    assert(got.size == want.size)
    assert(got == want)
    // the corners actually occur in the data: some backward, some
    // forward, some out-of-tolerance nulls
    assert(want.values.exists(_.isEmpty))
    assert(want.values.exists(_.nonEmpty))
  }

  test("rel_woe_iv conserves counts and its IV terms are consistent") {
    val rows = run("rel_woe_iv").collect()
    assert(rows.length == 10)
    val p = rows.map(_.getAs[Long]("p_i")).sum
    val n = rows.map(_.getAs[Long]("n_i")).sum
    val base = SparkEntry.events(spark, sf)
      .where(col("event_type").isin("purchase", "view")).count()
    assert(p + n == base, "bins must partition the labeled population")
    rows.foreach { r =>
      val woe = r.getAs[Double]("woe")
      val iv = r.getAs[Double]("iv_i")
      // Laplace-smoothed proportions, matching the query ((x+0.5)/(T+0.5))
      val pi = (r.getAs[Long]("p_i") + 0.5) / (p + 0.5)
      val ni = (r.getAs[Long]("n_i") + 0.5) / (n + 0.5)
      // iv_i = (pi - ni) * woe to rounding; sign(iv) >= 0 always
      // (smoothing preserves this: sign(pr - nr) == sign(ln(pr/nr)))
      assert(iv >= -1e-6, s"IV term must be nonnegative, got $iv")
      assert(math.abs(iv - (pi - ni) * woe) < 1e-4,
        s"iv term inconsistent with woe: $iv vs ${(pi - ni) * woe}")
      assert(math.abs(woe - math.log(pi / ni)) < 1e-5,
        s"woe must be the smoothed log-odds ratio: $woe vs ${math.log(pi / ni)}")
    }
  }
}
