package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-13 analytics operators (Markov
  * transitions, MI/chi² cells, one-pass correlation matrix, BFS shortest
  * path, feature hashing, schema evolution, centroid drift) on the
  * sf0.001 tables — cross-query consistency and mathematical properties
  * the DuckDB hash-compare can't express. */
class AnalyticsOpsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("rel_sql_interface: the SQL-string plan equals the DataFrame twin") {
    val sql = run("rel_sql_interface").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_qty"),
          r.getAs[Double]("avg_disc"))).toMap
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_shipdate") <
        lit("1998-09-01 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_qty"),
          r.getAs[Double]("avg_disc"))).toMap
    assert(sql.keySet == df.keySet)
    sql.foreach { case (k, (n, sq, ad)) =>
      val (n2, sq2, ad2) = df(k)
      assert(n == n2 && sq == sq2)
      assert(math.abs(ad - ad2) < 1e-9)
    }
  }

  test("text_repetition_score: bounded, conserves shingle accounting") {
    val rows = run("text_repetition_score").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("rep_ratio")))
    assert(rows.length == 500)
    rows.foreach { case (_, n, d, rep) =>
      assert(n >= 1 && d >= 1 && d <= n)
      assert(rep >= 0.0 && rep < 1.0)
      assert(math.abs(rep - (1.0 - d.toDouble / n)) < 1e-6)
    }
    // brute-force one document's shingle multiset
    val (docId, n, d, _) = rows.maxBy(t => t._2 - t._3)
    val text = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") === docId).head().getAs[String]("text")
    val toks = text.toLowerCase.replaceAll("[^a-z ]", " ")
      .split("\\s+").filter(_.nonEmpty)
    val sh =
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    assert(sh.length == n, s"doc $docId: ${sh.length} != $n")
    assert(sh.distinct.length == d)
  }

  test("rel_item_cooccur_sim: symmetric cosine, bounded, consistent " +
      "with a brute-force recompute") {
    val got = run("rel_item_cooccur_sim").collect()
      .map(r => (r.getAs[Long]("item"), r.getAs[Long]("nb"),
        r.getAs[Long]("cnt"), r.getAs[Double]("cosine"),
        r.getAs[Long]("rk")))
    assert(got.nonEmpty)
    got.foreach { case (_, _, _, c, rk) =>
      assert(c > 0.0 && c <= 1.0 + 1e-9); assert(rk >= 1 && rk <= 5)
    }
    // per item: ranks are 1..k with cosine non-increasing
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._5)
      assert(sorted.map(_._5).sameElements(1L to sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4)
        case _ => ()
      }
    }
    // brute-force the top neighbor of one item
    val baskets = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val supp = baskets.groupBy(_._2).view.mapValues(_.length)
    val byOrder = baskets.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val item = got.head._1
    val co = scala.collection.mutable.Map[Long, Int]()
    byOrder.values.foreach { parts =>
      if (parts.contains(item))
        parts.filter(_ != item).foreach(p => co(p) = co.getOrElse(p, 0) + 1)
    }
    val want = co.map { case (nb, c) =>
      (math.rint(c / math.sqrt(supp(item).toDouble * supp(nb)) * 1e6) / 1e6,
        nb)
    }.toSeq.sortBy(t => (-t._1, t._2)).head
    val gotTop = got.filter(t => t._1 == item && t._5 == 1L).head
    assert(gotTop._2 == want._2)
    assert(math.abs(gotTop._4 - want._1) < 1e-6)
  }

  test("rel_markov_transitions: rows are a probability kernel") {
    val m = run("rel_markov_transitions")
    // per-source probabilities sum to 1
    val rows = m.groupBy("src").agg(sum("prob").as("z")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4,
        s"src ${r.get(0)} sums to ${r.getDouble(1)}"))
    // transition count conservation: n_transitions = n_events - n_users
    // (every user's sequence contributes len-1 transitions)
    val total = m.agg(sum("cnt")).head().getLong(0)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val nEvents = raw.count()
    val nUsers = raw.select("user_id").distinct().count()
    assert(total == nEvents - nUsers, s"$total != $nEvents - $nUsers")
  }

  test("rel_mutual_info: cells reconcile and terms are well-formed") {
    val mi = run("rel_mutual_info")
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(mi.agg(sum("cnt")).head().getLong(0) == nEvents)
    // chi² terms are non-negative, expected counts positive
    assert(mi.where(col("chi2_term") < 0 || col("exp_cnt") <= 0)
      .count() == 0L)
    // total MI over the table is non-negative (within rounding slack)
    val tot = mi.agg(sum("mi_term")).head().getDouble(0)
    assert(tot > -1e-4, s"MI total $tot negative")
  }

  test("rel_correlation_matrix: 6 pairs, all within [-1, 1]") {
    val c = run("rel_correlation_matrix").collect()
    assert(c.length == 6)
    c.foreach { r =>
      val v = r.getAs[Double]("corr")
      assert(v >= -1.0 && v <= 1.0, s"${r}")
    }
    // cross-check one cell against Spark's own corr() aggregate over
    // the same integer-quantized units (independent implementation)
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select(
      floor(col("l_quantity") + 0.5).cast("long").cast("double").as("q"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long")
        .cast("double").as("p"))
    val want = li.agg(corr(col("q"), col("p"))).head().getDouble(0)
    val got = c.find(r => r.getAs[String]("col_a") == "quantity" &&
      r.getAs[String]("col_b") == "extendedprice").get.getAs[Double]("corr")
    assert(math.abs(got - want) < 1e-5, s"$got vs corr() = $want")
  }

  test("rel_shortest_path: BFS levels respect bipartite parity") {
    val sp = run("rel_shortest_path")
    // the source is present at distance 0, and only the source
    val d0 = sp.where(col("dist") === 0).collect()
    assert(d0.length == 1 && d0.head.getString(0) == "s1")
    // bipartite graph: suppliers sit at even distance, customers at odd
    val bad = sp.where(
      (col("node").startsWith("s") && col("dist") % 2 =!= 0) ||
        (col("node").startsWith("c") && col("dist") % 2 =!= 1)).count()
    assert(bad == 0L)
    // one distance per node
    assert(sp.select("node").distinct().count() == sp.count())
  }

  test("text_feature_hashing conserves total token mass") {
    val fh = run("text_feature_hashing")
    assert(fh.where(col("bucket") < 0 || col("bucket") >= 256)
      .count() == 0L)
    assert(fh.where(col("n_tokens") > col("tf")).count() == 0L)
    val mass = fh.agg(sum("tf")).head().getLong(0)
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ops.Dedup.cleanTokens(col("text"))))
      .count()
    assert(mass == truth)
  }

  test("src_schema_evolution: merged read reconciles with the source") {
    val evo = run("src_schema_evolution")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(evo.agg(sum("n_docs")).head().getLong(0) == docs.count())
    val legacy = evo.where(col("lang") === "<legacy>")
      .agg(sum("n_docs")).head().getLong(0)
    assert(legacy == docs.where(col("source") === "src0").count())
  }

  test("text_bpe_encode: symbol counts bracket between tokens and chars") {
    val enc = run("text_bpe_encode")
    // merging can only SHORTEN a word's symbol sequence, never below 1
    // symbol per token; with no merges it would equal the char count
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(graft.ops.Dedup.cleanTokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("t_tokens"),
        sum(length(col("tok"))).as("t_chars"))
    val bad = enc.join(truth, "doc_id")
      .where(col("n_tokens") =!= col("t_tokens") ||
        col("n_symbols") < col("n_tokens") ||
        col("n_symbols") > col("t_chars"))
    assert(bad.count() == 0L)
    // every tokenized doc is present
    assert(enc.count() == truth.count())
  }

  test("rel_benford_profile: digits 1-9, shares and expectations sum to 1") {
    val b = run("rel_benford_profile")
    val digits = b.select("digit").collect().map(_.getLong(0)).sorted
    assert(digits.forall(d => d >= 1 && d <= 9))
    val n = b.agg(sum("n")).head().getLong(0)
    assert(n == spark.read.parquet(s"$sf/orders.parquet").count())
    assert(math.abs(b.agg(sum("obs_p")).head().getDouble(0) - 1.0) < 1e-4)
    // Benford expectation over ALL nine digits sums to 1 — only assert
    // when every digit actually occurs in the data
    if (digits.length == 9)
      assert(math.abs(b.agg(sum("exp_p")).head().getDouble(0) - 1.0) < 1e-4)
  }

  test("emb_centroid_shift: cosines bounded, halves partition each label") {
    val cs = run("emb_centroid_shift")
    assert(cs.where(col("cos_shift") < -1.0 || col("cos_shift") > 1.0)
      .count() == 0L)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val perLabel = emb.groupBy("label").count()
    val joined = cs.join(perLabel, "label")
      .where(col("n_even") + col("n_odd") =!= col("count"))
    assert(joined.count() == 0L)
    // deterministic: identical row multiset on a re-run (the halves are
    // id-hashed, nothing samples)
    val again = run("emb_centroid_shift")
    assert(again.exceptAll(cs).isEmpty && cs.exceptAll(again).isEmpty)
  }

  test("rel_rolling_median: matches a brute-force sliding median") {
    val got = run("rel_rolling_median").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        r.getAs[Double]("rmed")).toMap
    val rows = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "event_id",
        "unix_micros(cast(ts as timestamp)) AS tsl", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.size == rows.length)
    rows.groupBy(_._1).foreach { case (_, es) =>
      val ordered = es.sortBy(e => (e._3, e._2))
      ordered.indices.foreach { i =>
        val frame = ordered.slice(math.max(0, i - 4), i + 1)
          .map(_._4).sorted
        val n = frame.length
        val med = if (n % 2 == 1) frame(n / 2)
          else (frame(n / 2 - 1) + frame(n / 2)) / 2.0
        val key = (ordered(i)._1, ordered(i)._2)
        assert(math.abs(got(key) - med) < 1e-6,
          s"median mismatch at $key: ${got(key)} vs $med")
      }
    }
  }

  test("rel_basket_pairs: supports verified brute-force, cut " +
      "deterministic through ties") {
    val rows = run("rel_basket_pairs").collect()
    assert(rows.length <= 100 && rows.nonEmpty)
    val items = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = items.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val pairCnt = collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.values.foreach { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0L) + 1
    }
    val supp = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nOrders = byOrder.size.toLong
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))
      val cnt = r.getAs[Long]("cnt")
      assert(a < b)
      assert(cnt == pairCnt((a, b)), s"support mismatch for ($a,$b)")
      val lift = cnt.toDouble * nOrders / (supp(a) * supp(b)).toDouble
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-5)
    }
    // the cut is the true top-|rows| under (cnt DESC, a, b)
    val expectTop = pairCnt.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(rows.length)
      .map(_._1)
    assert(rows.map(r => (r.getAs[Long]("part_a"),
      r.getAs[Long]("part_b"))).toSeq == expectTop)
  }

  test("rel_cusum_hourly: telescopes to zero at the series end, " +
      "hour mass conserved, partial sums recompute") {
    val rows = run("rel_cusum_hourly").collect()
      .map(r => (r.getAs[String]("hour"), r.getAs[Long]("cnt"),
        r.getAs[Double]("cusum"))).sortBy(_._1)
    assert(rows.nonEmpty)
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(_._2).sum == nEvents, "hour mass must conserve")
    // S_n = total - n*(total/n) telescopes to 0 (up to the round-6)
    assert(math.abs(rows.last._3) < 1e-5,
      s"CUSUM must telescope to ~0, got ${rows.last._3}")
    val mu = nEvents.toDouble / rows.length
    val expect3 = rows.take(3).map(_._2).sum - 3 * mu
    assert(math.abs(rows(2)._3 - expect3) < 1e-5)
  }

  test("rel_label_propagation: histogram matches a brute-force " +
      "3-round synchronous LPA") {
    val got = run("rel_label_propagation").collect()
      .map(r => r.getAs[Long]("community") -> r.getAs[Long]("size"))
      .toMap
    val half = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = half ++ half.map { case (x, y) => (y, x) }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keySet.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = adj.map { case (n, nbrs) =>
        val freq = nbrs.groupBy(lbl).view.mapValues(_.length)
        n -> freq.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val expect = lbl.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(got == expect, s"$got != $expect")
    assert(got.values.sum == adj.size, "sizes partition the node set")
  }

  test("rel_rfm_segments: segments partition customers, quintile " +
      "marginals balance, revenue conserves") {
    val rows = run("rel_rfm_segments").collect()
      .map(r => ((r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score")), r.getAs[Long]("customers"),
        r.getAs[Double]("revenue")))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val nCust = orders.select("o_custkey").distinct().count()
    assert(rows.map(_._2).sum == nCust,
      "segments partition the customer set")
    rows.foreach { case ((r, f, m), _, _) =>
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5)
    }
    // each dimension's marginal is an ntile(5) partition: bucket sizes
    // differ by at most 1
    Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { dim =>
      val marginal = rows.groupBy(t => dim(t._1))
        .view.mapValues(_.map(_._2).sum).values.toSeq
      assert(marginal.max - marginal.min <= 1,
        s"ntile marginals must balance: $marginal")
    }
    // revenue conservation against the raw orders table (cents-exact)
    val totalCents = orders
      .agg(sum(round(col("o_totalprice") * 100).cast("long")))
      .head().getLong(0)
    val gotCents = rows.map(r => math.round(r._3 * 100)).sum
    assert(gotCents == totalCents, s"$gotCents != $totalCents")
  }

  test("rel_cohort_ltv: ltv is non-decreasing per cohort and total " +
      "revenue conserves") {
    val rows = run("rel_cohort_ltv").collect()
      .map(r => (r.getAs[String]("cohort"), r.getAs[Long]("age_day"),
        r.getAs[Long]("users"), r.getAs[Double]("ltv")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, g) =>
      // one cohort size per cohort; the curve never decreases
      assert(g.map(_._3).distinct.length == 1)
      g.sortBy(_._2).map(_._4).foldLeft(0.0) { (prev, cur) =>
        assert(cur >= prev - 1e-9, s"ltv dips in cohort $cohort"); cur
      }
    }
    // the last point of each curve times cohort size sums to the total
    // purchase revenue of signed-up users
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val su = ev.where(col("event_type") === "signup")
      .select("user_id").distinct()
    val totalCents = ev.where(col("event_type") === "purchase")
      .join(su, "user_id")
      .agg(sum(round(col("value") * 100).cast("long")))
      .head().getLong(0)
    val gotCents = rows.groupBy(_._1).values.map { g =>
      val last = g.maxBy(_._2)
      math.round(last._4 * last._3 * 100)
    }.sum
    // per-cohort ltv rounds to 1e-6, so the reassembled total is exact
    // only to users*5e-7 per cohort
    assert(math.abs(gotCents - totalCents) <= rows.map(_._3).max,
      s"$gotCents != $totalCents")
  }
}
