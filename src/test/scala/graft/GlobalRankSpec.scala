package graft

import graft.ops.Rank
import graft.plans.GlobalRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GlobalRankSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val df = Seq(("a", 5L), ("b", 9L), ("c", 5L), ("d", 1L), ("e", 9L))
    .toDF("key", "cnt")

  test("GlobalRank.ranked matches the window-based Rank.ranked") {
    val viaPlan = GlobalRank.ranked(df, "cnt" -> true, "key" -> false)
      .select("rank", "key", "cnt").collect().map(_.toSeq).toSet
    val viaWindow = Rank.ranked(df, col("cnt"), Seq(col("key")))
      .select("rank", "key", "cnt").collect().map(_.toSeq).toSet
    assert(viaPlan == viaWindow)
  }

  test("physical plan uses GlobalRankExec, not a single-partition Window") {
    val plan = GlobalRank.ranked(df, "cnt" -> true, "key" -> false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRank"))     // the custom physical node
    assert(plan.contains("rangepartitioning")) // distributed total sort
    assert(!plan.contains("Window"))
  }

  test("ranks are a 1..n permutation on 10k shuffled rows, many partitions") {
    val big = spark.range(10000).select(
      (col("id") * 2654435761L % 1000003L).as("v"), col("id"))
      .repartition(13)
    val ranked = GlobalRank.ranked(big, "v" -> true, "id" -> true)
    val got = ranked.select("rank", "v").collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == (1L to 10000L))
    // rank order agrees with value order (desc)
    val byRank = got.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("GlobalRankRule rewrites a plain global row_number automatically") {
    import org.apache.spark.sql.expressions.Window
    // user writes the textbook (single-partition) form...
    val q = df.withColumn("rn", row_number().over(
      Window.orderBy(col("cnt").desc, col("key").asc)))
    val p = q.queryExecution.executedPlan.toString
    // ...and gets the distributed operator, schema unchanged
    assert(p.contains("GlobalRank"), p)
    assert(!p.contains("Window"), s"rule left a WindowExec behind:\n$p")
    assert(q.schema("rn").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = q.orderBy("rn").collect()
      .map(r => (r.getInt(2), r.getString(0))).toSeq
    assert(got == Seq((1, "b"), (2, "e"), (3, "a"), (4, "c"), (5, "d")))
    // partitioned windows are NOT rewritten (they parallelize fine)
    val part = df.withColumn("rn", row_number().over(
      Window.partitionBy(col("key")).orderBy(col("cnt"))))
    assert(part.queryExecution.executedPlan.toString.contains("Window"))
    // top-k (Filter on the rank) is NOT rewritten either: Spark's
    // WindowGroupLimit pruning (<= k rows per partition cross the
    // shuffle) beats a full two-pass rank when only k rows survive
    val topk = df.withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)))
      .where(col("rn") <= 2)
    val tp = topk.queryExecution.executedPlan.toString
    assert(!tp.contains("GlobalRank"), tp)
    // Spark prunes the rank-limited window itself — as WindowGroupLimit
    // (per-partition top-k) or, when the limit also pushes through, as
    // TakeOrderedAndProject; either way the pruning survives the rule
    assert(tp.contains("WindowGroupLimit") ||
      tp.contains("TakeOrderedAndProject"), tp)
    assert(topk.collect().map(_.getString(0)).toSet == Set("b", "e"))
  }

  test("top-k guard is precise: renamed rank suppresses, arithmetic doesn't") {
    import org.apache.spark.sql.expressions.Window
    // (a) filter on a RENAMED rank (pure alias through a Project) — still
    // a prunable top-k; the guard sees through the rename and keeps
    // Spark's WindowGroupLimit pruning
    val renamed = df.withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)))
      .select(col("key"), col("rn").as("pos"))
      .where(col("pos") <= 2)
    val rp = renamed.queryExecution.executedPlan.toString
    assert(!rp.contains("GlobalRank"), rp)
    assert(rp.contains("WindowGroupLimit") ||
      rp.contains("TakeOrderedAndProject"), rp)
    assert(renamed.collect().map(_.getString(0)).toSet == Set("b", "e"))
    // the guard walk itself, on the PRE-pushdown shape
    // Filter(pos <= 2, Project(pos := rn, Window(...))) — no rewrite
    val keptWindow = graft.plans.GlobalWindowRule(
      renamed.queryExecution.analyzed).collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(keptWindow.isDefined)
    // (b) filter on an ARITHMETIC derivative of the rank — Spark's
    // InferWindowGroupLimit cannot prune that shape, so suppressing the
    // rewrite would keep the single-partition window AND get no
    // pruning; the rule rewrites it
    val derived = df.withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)))
      .withColumn("decile", col("rn") * 10)
      .where(col("decile") <= 20)
    val dp = derived.queryExecution.executedPlan.toString
    assert(dp.contains("GlobalRank"), dp)
    assert(!dp.contains("Window"), dp)
    assert(derived.collect().map(_.getString(0)).toSet == Set("b", "e"))
    // (c) a filter on an UNRELATED column never suppresses the rewrite
    val full = df.withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)))
      .where(upper(col("key")) =!= "Z")
    val fp = full.queryExecution.executedPlan.toString
    assert(fp.contains("GlobalRank"), fp)
    assert(full.collect().length == 5)
  }
}
