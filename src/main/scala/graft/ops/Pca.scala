package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Principal-component analysis over an embedding column, Spark-native:
  *
  *  - the DATA-sized work is ONE pass — [[graft.functions.VectorOuterSumAgg]]
  *    accumulates n, Σxᵢ and the upper-triangular Σxᵢxⱼ in a partial+final
  *    aggregate whose shuffle carries a ~d²/2-double buffer per partition,
  *    never the rows;
  *  - the MODEL-sized work — assembling the d×d covariance and
  *    power-iterating its dominant eigenvector — happens on the driver
  *    (d = 64 here; the matrix is the model, exactly like the IVF
  *    centroid table or the PQ codebook);
  *  - the projection is again one distributed scan against the component
  *    as literals ([[graft.ops.Similarity.dot]] — codegen'd, no shuffle).
  *
  * Determinism: power iteration runs a FIXED count of iterations from the
  * fixed start vector (1/√d, …), so an oracle replaying the identical
  * arithmetic (chained matvec+normalize CTEs in DuckDB) reproduces the
  * same vector to fp-accumulation noise — parity does not depend on
  * convergence. The output sign is normalized (the largest-|loading|
  * component is made non-negative, smallest index on ties), closing the
  * eigenvector sign ambiguity. Cross-engine caveat (same class as the
  * LSH sign note): two |loadings| within ~1e-15 of each other could pick
  * different normalization anchors across engines — never observed on
  * the fixtures.
  *
  * Reference analogue: none; engine extension alongside IVF/PQ/k-means.
  */
object Pca {

  /** Parse the flat moment buffer ([[graft.functions.VectorOuterSumAgg]]
    * layout: [n, s₀…s_{d−1}, upper-tri oᵢⱼ row-major]) into
    * (n, Σxᵢ, full symmetric Σxᵢxⱼ). Shared by the batch aggregate path
    * and the streaming shard-merge path. */
  def parseMoments(flat: Array[Double])
  : (Long, Array[Double], Array[Array[Double]]) = {
    val n = flat(0).toLong
    val d = (math.sqrt(9.0 + 8.0 * (flat.length - 1)).toInt - 3) / 2
    require(1 + d + d * (d + 1) / 2 == flat.length,
      s"moment buffer length ${flat.length} is not 1 + d + d(d+1)/2")
    val s = java.util.Arrays.copyOfRange(flat, 1, 1 + d)
    val o = Array.ofDim[Double](d, d)
    var k = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { o(i)(j) = flat(k); o(j)(i) = flat(k); j += 1; k += 1 }
      i += 1
    }
    (n, s, o)
  }

  /** One-pass moment sums: (n, Σxᵢ, full symmetric Σxᵢxⱼ). */
  def momentSums(df: DataFrame, emb: Column): (Long, Array[Double], Array[Array[Double]]) =
    parseMoments(df.agg(graft.functions.GraftFunctions
        .vecOuterSum(emb).as("m"))
      .head().getSeq[Double](0).toArray)

  /** Population covariance Cᵢⱼ = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n). */
  def covariance(n: Long, s: Array[Double], o: Array[Array[Double]])
  : Array[Array[Double]] = {
    val d = s.length
    val c = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        c(i)(j) = o(i)(j) / n - (s(i) / n) * (s(j) / n); j += 1
      }
      i += 1
    }
    c
  }

  /** Dominant eigenpair by `iters` fixed power-iteration steps from the
    * all-equal unit start vector; sign-normalized (largest-|loading|
    * component non-negative, smallest index on ties). Returns
    * (eigenvector, Rayleigh quotient λ = vᵀCv). */
  def powerIteration(c: Array[Array[Double]], iters: Int)
  : (Array[Double], Double) = {
    val d = c.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += c(i)(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      var nrm = 0.0
      var k = 0
      while (k < d) { nrm += w(k) * w(k); k += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 0.0, "power iteration collapsed to the zero vector " +
        "(covariance is identically zero)")
      k = 0
      while (k < d) { w(k) = w(k) / nrm; k += 1 }
      v = w
      it += 1
    }
    // sign normalization: anchor on the largest |loading|, min index ties
    var best = 0
    var i = 1
    while (i < d) {
      if (math.abs(v(i)) > math.abs(v(best))) best = i
      i += 1
    }
    if (v(best) < 0.0) { i = 0; while (i < d) { v(i) = -v(i); i += 1 } }
    // Rayleigh quotient on the normalized vector
    var lam = 0.0
    i = 0
    while (i < d) {
      var j = 0
      while (j < d) { lam += c(i)(j) * v(i) * v(j); j += 1 }
      i += 1
    }
    (v, lam)
  }

  /** A (model-sized) covariance matrix as upper-triangle rows
    * (i, j, cov), 1-based positions. */
  def covarianceRows(spark: SparkSession, c: Array[Array[Double]])
  : DataFrame = {
    val rows = for (i <- c.indices; j <- i until c.length)
      yield Row((i + 1).toLong, (j + 1).toLong, c(i)(j))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("i", LongType, nullable = false),
        StructField("j", LongType, nullable = false),
        StructField("cov", DoubleType, nullable = false))))
  }

  /** Upper-triangle covariance as rows (i, j, cov), 1-based positions —
    * the distributed one-pass aggregate, model-sized output. */
  def covarianceDf(df: DataFrame, emb: Column): DataFrame = {
    val (n, s, o) = momentSums(df, emb)
    covarianceRows(df.sparkSession, covariance(n, s, o))
  }

  /** The dominant eigenpair as rows (pos, loading, lambda), 1-based. */
  def topComponentDf(df: DataFrame, emb: Column, iters: Int): DataFrame = {
    val spark = df.sparkSession
    val (n, s, o) = momentSums(df, emb)
    val (v, lam) = powerIteration(covariance(n, s, o), iters)
    val rows = v.zipWithIndex.map { case (x, i) =>
      Row((i + 1).toLong, x, lam)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("pos", LongType, nullable = false),
        StructField("loading", DoubleType, nullable = false),
        StructField("lambda", DoubleType, nullable = false))))
  }

  /** Mean-centered projection of every vector onto the dominant
    * component: one codegen'd scan, the model rides as literals. */
  def projectTop(df: DataFrame, emb: Column, id: Column, iters: Int)
  : DataFrame = {
    val (n, s, o) = momentSums(df, emb)
    val (v, _) = powerIteration(covariance(n, s, o), iters)
    // μ·v precomputed on the driver: proj = x·v − μ·v
    var mv = 0.0
    var i = 0
    while (i < v.length) { mv += (s(i) / n) * v(i); i += 1 }
    val vArr = array(v.toIndexedSeq.map(lit): _*)
    df.select(id.as("vec_id"),
      (Similarity.dot(emb, vArr) - lit(mv)).as("pc1"))
  }
}
