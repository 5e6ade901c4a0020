package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the deterministic quantile sketch (see
  * functions/QuantileSketchAgg.scala): the retained set is the
  * definition (minimal level keeping <= cap rows), order/partitioning
  * cannot change it, the partials merge losslessly, and — the reason
  * it exists — the served quantiles carry a RANK-ERROR bound against
  * the exact quantiles, independent of the value distribution. */
class QuantileSketchSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val cap = 256

  /** n synthetic rows with md5-hashed ids (the registry's thetaHash
    * shape) and a heavily skewed value distribution — the case that
    * breaks value-bucket histograms */
  private def mk(n: Int) = spark.range(n.toLong).select(
    conv(substring(md5(col("id").cast("string").cast("binary")), 1, 15),
      16, 10).cast("long").as("h"),
    // skew: long tail over ~6 decades
    (pow(lit(10.0), (col("id") % 997L).cast("double") / lit(166.0)) * 100)
      .cast("long").as("v"))

  private def sketch(df: org.apache.spark.sql.DataFrame, parts: Int) = df
    .repartition(parts)
    .agg(GraftFunctions.qsketch(col("h"), col("v"), cap))
    .head().getSeq[Long](0)

  test("retained set matches the definition and is partitioning-" +
    "invariant") {
    val df = mk(50000)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    def tz(h: Long) = math.min(java.lang.Long.numberOfTrailingZeros(h), 60)
    // minimal L with <= cap qualifying rows, computed independently
    val lvl = (0 to 60).find(l => rows.count(t => tz(t._1) >= l) <= cap).get
    val want = rows.filter(t => tz(t._1) >= lvl).sortBy(identity)
    val expected = lvl.toLong +: want.flatMap(t => Seq(t._1, t._2)).toSeq
    for (parts <- Seq(1, 7, 32)) {
      assert(sketch(df, parts).toSeq == expected, s"parts=$parts")
    }
    assert(lvl > 0, "test must exercise a compacted (L > 0) sketch")
  }

  test("merge of per-group partials is bit-identical to the " +
    "from-scratch sketch (lossless minimal-level identity)") {
    val df = mk(50000)
    val direct = sketch(df, 8)
    val merged = df
      .withColumn("g", col("h") % 17)
      .groupBy("g")
      .agg(GraftFunctions.qsketch(col("h"), col("v"), cap)
        .as("qs"))
      .agg(GraftFunctions.qsketchMerge(col("qs"), cap))
      .head().getSeq[Long](0)
    assert(merged.toSeq == direct.toSeq)
  }

  test("served quantiles carry the rank-error bound against exact " +
    "quantiles on a skewed distribution") {
    val n = 50000
    val df = mk(n)
    val arr = sketch(df, 16)
    val m = (arr.size - 1) / 2
    assert(m > cap / 4, s"retained $m too small for the bound to mean " +
      "anything")
    val vals = (1 to m).map(i => arr(2 * i)).sorted
    val exact = df.select("v").collect().map(_.getLong(0)).sorted
    // est rank error for q in a grid: |true_rank(est_q) - q*n| / n.
    // Retained rows are a uniform 2^-L sample, so the error is
    // ~sqrt(q(1-q)/m) of n (~3-4 sd at the bound below); deterministic
    // given the md5 coins, so this pin is stable.
    for (q <- Seq(0.05, 0.25, 0.5, 0.75, 0.95)) {
      val est = vals((math.ceil(q * m) - 1).toInt.max(0))
      // rank of est among exact values (upper bound of its run)
      val rank = exact.count(_ <= est)
      val err = math.abs(rank - q * n) / n
      assert(err < 4.0 * math.sqrt(q * (1 - q) / m) + 1.0 / m,
        s"q=$q: est $est has rank $rank (err ${"%.4f".format(err)})")
    }
  }

  test("accuracy/cost curve: rank error shrinks ~1/sqrt(cap) across " +
    "cap 256 / 1024 / 4096 on the skewed distribution") {
    // the knob-selection table (verdict r14 #2): a consumer picks cap
    // from measured error, not the asymptotic formula. Deterministic
    // md5 coins make every number here stable run-to-run.
    val n = 50000
    val df = mk(n)
    val exact = df.select("v").collect().map(_.getLong(0)).sorted
    val qGrid = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val rows = for (c <- Seq(256, 1024, 4096)) yield {
      val arr = df.repartition(16)
        .agg(GraftFunctions.qsketch(col("h"), col("v"), c))
        .head().getSeq[Long](0)
      val m = (arr.size - 1) / 2
      assert(m <= c && m > c / 4, s"cap=$c retained $m")
      val vals = (1 to m).map(i => arr(2 * i)).sorted
      val errs = qGrid.map { q =>
        val est = vals((math.ceil(q * m) - 1).toInt.max(0))
        val rank = exact.count(_ <= est)
        val err = math.abs(rank - q * n) / n
        // per-point bound at every cap: ~sqrt(q(1-q)/m), 4 sd
        assert(err < 4.0 * math.sqrt(q * (1 - q) / m) + 1.0 / m,
          s"cap=$c q=$q err=$err")
        err
      }
      (c, m, errs.max)
    }
    // the curve must actually descend: each 4x cap step cuts the worst
    // grid error (the 1/sqrt(cap) shape a consumer buys with memory)
    val worst = rows.map(_._3)
    assert(worst(1) < worst(0) && worst(2) < worst(1),
      s"error not descending across caps: $rows")
    info(rows.map { case (c, m, e) =>
      f"cap=$c%4d m=$m%4d maxErr=${e * 100}%.3f%%" }.mkString("; "))
  }

  test("duplicate partials: KMV merge is idempotent, qsketch merge is " +
    "NOT — why the quantile handoff rides the exactly-once store") {
    // the at-least-once append store re-presents a batch's partial on
    // crash recovery; a SET union (KMV) absorbs the duplicate, a
    // MULTISET of (h, v) pairs (qsketch) double-counts it — pinning
    // the store-choice rationale documented in StreamGate
    val a = Seq(10L, 20L).toDF("h")
      .agg(GraftFunctions.kmvSketch(col("h"), 8)).head().getSeq[Long](0)
    val b = Seq(30L, 40L).toDF("h")
      .agg(GraftFunctions.kmvSketch(col("h"), 8)).head().getSeq[Long](0)
    def kmvM(parts: Seq[Seq[Long]]) = parts.toDF("ks")
      .agg(GraftFunctions.kmvMerge(col("ks"), 8)).head().getSeq[Long](0)
    assert(kmvM(Seq(a, b, a)) == kmvM(Seq(a, b)), "KMV must absorb dups")

    def qs(rows: Seq[(Long, Long)]) = rows.toDF("h", "v")
      .agg(GraftFunctions.qsketch(col("h"), col("v"), 8))
      .head().getSeq[Long](0)
    val qa = qs(Seq((10L, 1L), (20L, 2L)))
    val qb = qs(Seq((30L, 3L), (40L, 4L)))
    def qsM(parts: Seq[Seq[Long]]) = parts.toDF("qs")
      .agg(GraftFunctions.qsketchMerge(col("qs"), 8))
      .head().getSeq[Long](0)
    assert(qsM(Seq(qa, qb)) == qs(Seq((10L, 1L), (20L, 2L), (30L, 3L),
      (40L, 4L))), "clean merge must be lossless")
    assert(qsM(Seq(qa, qb, qa)) != qsM(Seq(qa, qb)),
      "a duplicated qsketch partial must be observable (multiset)")
  }

  test("plan: the sketch aggregates partially map-side — two " +
    "ObjectHashAggregate stages around one exchange, <= cap pairs " +
    "shipped per partition per group") {
    val p = mk(10000)
      .withColumn("g", col("h") % 5)
      .groupBy("g")
      .agg(GraftFunctions.qsketch(col("h"), col("v"), cap))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert(p.contains("Exchange hashpartitioning(g"),
      s"expected the one key exchange between the stages:\n$p")
  }

  test("null hashes/values contribute nothing; sub-cap input is exact " +
    "(level 0, all rows retained)") {
    val df = Seq((Some(8L), Some(3L)), (None, Some(9L)), (Some(12L), None),
      (Some(5L), Some(1L))).toDF("h", "v")
    val arr = df.agg(GraftFunctions.qsketch(col("h"), col("v"), 16))
      .head().getSeq[Long](0)
    assert(arr.toSeq == Seq(0L, 5L, 1L, 8L, 3L), arr.toString)
  }
}
