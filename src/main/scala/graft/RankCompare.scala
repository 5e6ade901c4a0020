package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev measurement utility: single-partition `row_number()` window vs the
  * planned GlobalRank operator on the same total order, timed to the noop
  * sink (full evaluation, nothing collected). Quantifies what
  * [[graft.plans.GlobalWindowRule]] buys when it rewrites the former into
  * the latter. The window side runs on a child session that excludes
  * both graft rewrite rules through `spark.sql.optimizer.excludedRules`.
  * Usage: runMain graft.RankCompare [sfDir] */
object RankCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftExtensions.inject)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same extensions, every rewrite rule off: plans Spark's own WindowExec
    val native = spark.newSession()
    native.conf.set("spark.sql.optimizer.excludedRules",
      Seq(graft.plans.GlobalWindowRule, graft.plans.GlobalHalfRangeRule)
        .map(_.ruleName).mkString(","))
    def lineitem(ss: SparkSession) = ss.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val li = lineitem(spark)
    val liNative = lineitem(native)
    val n = li.count() // warm the page cache so both paths read warm data

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(label: String)(build: => DataFrame): Double = {
      val t = (1 to 2).map(_ => time(
        build.write.format("noop").mode("overwrite").save())).min
      println(f"[rankcompare] $label%-22s $t%8.3f s  ($n rows)")
      t
    }

    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    val windowSec = run("single-partition window")(
      liNative.withColumn("rank", row_number().over(w)))
    val globalSec = run("GlobalRank operator")(
      graft.plans.GlobalRank.ranked(li, "l_extendedprice" -> true,
        "l_orderkey" -> false, "l_linenumber" -> false))

    // the rest of the family: same query text, with vs without the
    // rewrites (the excluded rules are the only difference, so the
    // deltas isolate exactly what GlobalTies/GlobalShift/GlobalFrame buy)
    val wt = org.apache.spark.sql.expressions.Window
      .orderBy(col("l_extendedprice").desc)
    def both(label: String)(build: DataFrame => DataFrame)
    : (Double, Double) =
      (run(s"$label window")(build(liNative)),
        run(s"$label rewritten")(build(li)))
    val (rankW, rankG) = both("rank()")(
      _.withColumn("r", rank().over(wt)))
    val (cumeW, cumeG) = both("cume_dist()")(
      _.withColumn("r", cume_dist().over(wt)))
    val (lagW, lagG) = both("lag(1)")(
      _.withColumn("r", lag(col("l_extendedprice"), 1).over(w)))
    val (frameW, frameG) = both("frame(100)")(
      _.withColumn("m",
        max(col("l_extendedprice")).over(w.rowsBetween(-99, 0))))
    println(s"""{"rows":$n,"window_sec":$windowSec,"globalrank_sec":$globalSec,""" +
      s""""rank_window_sec":$rankW,"rank_ties_sec":$rankG,""" +
      s""""cume_window_sec":$cumeW,"cume_ties_sec":$cumeG,""" +
      s""""lag_window_sec":$lagW,"lag_shift_sec":$lagG,""" +
      s""""frame_window_sec":$frameW,"frame_sec":$frameG}""")
    spark.stop()
  }
}
