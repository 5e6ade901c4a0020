package graft

import graft.ops.FrequentItems
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two-pass exact heavy hitters and the deletion-signature fuzzy
  * join, exercised on adversarial synthetic data where the sketch/
  * blocking machinery actually engages (the testdata corpus is too
  * small-vocabulary to trigger MG shrink or signature collisions). */
class FrequentItemsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Zipf-ish stream: key i (of `keys`) appears ~ N/(i+1) times — heavy
    * head, long tail, shuffled row order, spread over many partitions. */
  private def zipfDf(keys: Int, scale: Int) = {
    val rows = (0 until keys).flatMap(i =>
      Seq.fill(math.max(1, scale / (i + 1)))(f"key$i%04d"))
    val shuffled = new scala.util.Random(42).shuffle(rows)
    shuffled.toDF("token").repartition(8)
  }

  test("Misra-Gries sketch: bounded size, undercount-only, superset of " +
    "heavy keys under shrink pressure") {
    val df = zipfDf(keys = 200, scale = 3000) // ~24k rows, 200 distinct
    val cap = 24                              // << 200: shrink engages
    val row = df.agg(
      graft.functions.GraftFunctions.misraGries(spark, col("token"), cap)
        .as("mg"),
      count(lit(1)).as("n")).collect()(0)
    val est = row.getMap[String, Long](0).toMap
    val n = row.getLong(1)
    assert(est.nonEmpty && est.size <= cap,
      s"sketch size ${est.size} exceeds capacity $cap")
    val exact = df.groupBy("token").count()
      .as[(String, Long)].collect().toMap
    // estimates never exceed truth, and undercount by at most N/(cap+1)
    est.foreach { case (k, e) =>
      assert(e <= exact(k), s"$k overcounted: est $e > true ${exact(k)}")
      assert(exact(k) - e <= n / (cap + 1),
        s"$k undercount ${exact(k) - e} beyond bound ${n / (cap + 1)}")
    }
    // every key above the guarantee threshold survives the sketch
    val mustSurvive = exact.filter(_._2 > n / (cap + 1)).keySet
    assert(mustSurvive.nonEmpty, "degenerate test: no key above threshold")
    assert(mustSurvive.subsetOf(est.keySet),
      s"lost heavy keys: ${mustSurvive -- est.keySet}")
  }

  test("two-pass exact heavy hitters equals the naive groupBy/HAVING " +
    "answer with capacity far below the distinct-key count") {
    val df = zipfDf(keys = 500, scale = 5000) // 500 distinct keys
    val k = 30L
    val got = FrequentItems.exactHeavyHitters(spark, df, col("token"),
      k, cap = 32).as[(String, Long)].collect().toMap
    val n = df.count()
    val naive = df.groupBy("token").count().where(col("count") * k > n)
      .as[(String, Long)].collect().toMap
    assert(got == naive)
    assert(got.nonEmpty, "degenerate test: no heavy hitters")
  }

  test("heavy-hitters exact pass filters candidates BELOW the exchange " +
    "(the shuffle carries only candidate rows)") {
    // a range-backed source (a LocalRelation would evaluate the filter
    // eagerly and hide the plan shape): key i ~ appears 100/(i%100+1)
    // times is unnecessary here — uniform keys suffice for the PIN
    val df = spark.range(20000)
      .select(concat(lit("key"), col("id") % 100).as("token"))
    val plan = FrequentItems.exactHeavyHitters(spark, df, col("token"),
      k = 99L, cap = 128).queryExecution.executedPlan.toString
    val ex = plan.indexOf("Exchange hashpartitioning(token")
    assert(ex >= 0, s"missing key exchange in:\n$plan")
    // tree prints top-down: the candidate IN-set filter must sit UNDER
    // the key exchange (appear after it in the rendering) — the shuffle
    // then carries only candidate rows
    val inset = math.max(plan.indexOf("INSET", ex), plan.indexOf(" IN (", ex))
    assert(inset > ex,
      s"candidate IN-set filter not below the key exchange:\n$plan")
  }

  test("misra_gries rejects non-positive capacity") {
    val e = intercept[Exception] {
      Seq("a").toDF("token").agg(
        graft.functions.GraftFunctions.misraGries(spark, col("token"), 0))
        .collect()
    }
    assert(e.getMessage.contains("capacity"))
  }

  test("misra_gries carries a key over 64 KB through the shuffle") {
    val big = "k" * 70000
    val m = Seq(big, "x", big).toDF("token").repartition(2)
      .agg(graft.functions.GraftFunctions.misraGries(spark, col("token"), 4)
        .as("mg"))
      .head().getMap[String, Long](0)
    assert(m == Map(big -> 2L, "x" -> 1L))
  }

  test("deletion-signature join finds exactly the brute-force " +
    "distance-<=1 pairs (substitutions, inserts, deletes, decoys)") {
    // crafted neighborhood: substitution pairs, insert/delete pairs,
    // distance-2 decoys whose deletions collide ("abc"/"cab" meet at
    // "ab"), and isolated strings
    val words = Seq(
      "cat", "bat", "cut", "cart", "ca", "cast",
      "abc", "cab", "bca",
      "spark", "sparc", "spar", "sparkk", "park",
      "zzzzz", "qqqqq",
      "node01", "node02", "node11", "nade01")
    val df = words.toDF("name").repartition(4)
    val got = FrequentItems.editDistance1Pairs(df)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- words; b <- words if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(got == want)
    // the decoys prove the verify step ran: sig collision at distance 2
    assert(!got.contains(("abc", "cab")))
  }

  test("deletion-signature join covers random single-edit corruptions") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map(i => f"token${i}%03dsuffix")
    val corrupted = base.take(30).map { w =>
      val p = rnd.nextInt(w.length)
      rnd.nextInt(3) match {
        case 0 => w.updated(p, ('a' + rnd.nextInt(26)).toChar) // substitute
        case 1 => w.take(p) + w.drop(p + 1)                    // delete
        case _ => w.take(p) + ('a' + rnd.nextInt(26)).toChar + w.drop(p)
      }
    }
    val all = (base ++ corrupted).distinct
    val got = FrequentItems.editDistance1Pairs(all.toDF("name"))
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    // every (original, corruption) pair with distance exactly 1 found
    base.take(30).zip(corrupted).foreach { case (o, c) =>
      if (o != c) {
        val key = if (o < c) (o, c) else (c, o)
        assert(got.contains(key), s"missed pair $key")
      }
    }
  }
}
