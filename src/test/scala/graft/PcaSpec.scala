package graft

import graft.ops.Pca
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PcaSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** 97 vectors with a planted dominant direction u plus small
    * deterministic off-axis noise, spread over 7 partitions. */
  private def fixture = {
    val d = 6
    val u = Array(0.5, -0.5, 0.5, 0.25, -0.25, 0.25)
    (0 until 97).map { r =>
      val t = (r % 19) - 9.0 // strong variance along u
      Seq.tabulate(d)(i =>
        (t * u(i) + 0.01 * math.sin(r * 7 + i * 3)).toFloat)
    }.toDF("embedding").repartition(7)
  }

  test("moment sums equal the declarative self-join formulation") {
    val df = fixture
    val (n, s, o) = Pca.momentSums(df, col("embedding"))
    assert(n == 97L)
    val ex = df.select(posexplode(col("embedding").cast("array<double>"))
      .as(Seq("pos", "x")))
    val sums = ex.groupBy("pos").agg(sum("x").as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (i <- s.indices)
      assert(math.abs(s(i) - sums(i)) < 1e-9, s"sum at $i")
    val a = df.withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
    val outer = a.as("a").join(a.as("b"), col("a.rid") === col("b.rid"))
      .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
      .agg(sum(col("a.x") * col("b.x")).as("o"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    for (i <- s.indices; j <- s.indices)
      assert(math.abs(o(i)(j) - outer((i, j))) < 1e-9, s"outer at ($i,$j)")
  }

  test("null vectors are skipped; length mismatch throws") {
    val df = Seq(Some(Seq(1f, 2f)), None, Some(Seq(3f, 4f)))
      .toDF("embedding")
    val (n, s, _) = Pca.momentSums(df, col("embedding"))
    assert(n == 2L && s.toSeq == Seq(4.0, 6.0))
    val bad = Seq(Seq(1f, 2f), Seq(1f, 2f, 3f)).toDF("embedding")
    intercept[Exception] { Pca.momentSums(bad, col("embedding")) }
  }

  test("power iteration recovers the planted dominant direction: " +
    "unit norm, small eigen residual, sign-normalized") {
    val df = fixture
    val (n, s, o) = Pca.momentSums(df, col("embedding"))
    val c = Pca.covariance(n, s, o)
    val (v, lam) = Pca.powerIteration(c, 24)
    // unit norm
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12)
    // eigen residual ||Cv - lambda v|| small relative to lambda
    val cv = c.indices.map(i =>
      c(i).indices.map(j => c(i)(j) * v(j)).sum).toArray
    val resid = math.sqrt(
      cv.indices.map(i => math.pow(cv(i) - lam * v(i), 2)).sum)
    assert(lam > 0 && resid / lam < 1e-6, s"residual $resid vs lambda $lam")
    // sign normalization: the largest-|loading| component is positive
    val best = v.indices.maxBy(i => math.abs(v(i)))
    assert(v(best) > 0)
    // recovered direction is (anti)parallel to the planted u
    val u = Array(0.5, -0.5, 0.5, 0.25, -0.25, 0.25)
    val un = math.sqrt(u.map(x => x * x).sum)
    val overlap = math.abs(v.indices.map(i => v(i) * u(i) / un).sum)
    assert(overlap > 0.999, s"overlap with planted direction: $overlap")
  }

  test("projection equals mean-centered dot with the component") {
    val df = fixture.withColumn("vec_id", monotonically_increasing_id())
    val (n, s, o) = Pca.momentSums(df, col("embedding"))
    val (v, _) = Pca.powerIteration(Pca.covariance(n, s, o), 24)
    val mu = s.map(_ / n)
    val got = Pca.projectTop(df, col("embedding"), col("vec_id"), 24)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = df.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
    rows.foreach { r =>
      val x = r.getSeq[Double](1)
      val want = x.indices.map(i => (x(i) - mu(i)) * v(i)).sum
      assert(math.abs(got(r.getLong(0)) - want) < 1e-9)
    }
    // mean of projections is (numerically) zero — centered by design
    assert(math.abs(got.values.sum / got.size) < 1e-9)
  }

  test("covarianceDf plans one partial+final aggregate, no generator") {
    val df = fixture
    val q = df.agg(graft.functions.GraftFunctions
      .vecOuterSum(col("embedding")).as("m"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an object aggregate:\n$plan")
    assert(!plan.contains("Generate"), s"vector rows were exploded:\n$plan")
  }
}
