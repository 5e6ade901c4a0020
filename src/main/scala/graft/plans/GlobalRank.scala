package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** GLOBAL RANK as a first-class operator: `rank = 1..n` over a total order,
  * with NO single-partition stage.
  *
  * `row_number()` over an un-partitioned window (the direct translation of
  * the reference's single-reducer ranking, `StockCount.java:61-66`) funnels
  * every row through one partition — fine after an aggregation (key-space-
  * sized input), fatal on raw 100 TB data. This operator instead:
  *
  *   1. total-orders the input via range partitioning (planned sort below);
  *   2. computes per-partition row counts (one tiny job on counts only);
  *   3. assigns `rank = partitionOffset + localIndex + 1` in a single pass.
  *
  * Every stage is distributed; the only global knowledge is the per-
  * partition count array (numPartitions longs on the driver) — the same
  * mechanism as `RDD.zipWithIndex`, but planned as a Catalyst operator:
  * `GlobalRankPlan` (logical) -> [[GlobalStrategy]] -> [[GlobalRankExec]]
  * (physical, requiredChildOrdering/Distribution = global sort, so the
  * planner inserts the range-partitioned sort automatically).
  *
  * Usage: [[GlobalRank.ranked]] (plan-level), or a lone un-partitioned
  * `row_number()` window, which [[GlobalWindowRule]] rewrites to it.
  */
case class GlobalRankPlan(order: Seq[SortOrder], child: LogicalPlan,
    rankAttr: AttributeReference =
      AttributeReference("rank", LongType, nullable = false)())
  extends GlobalNode {
  override def added: Seq[Attribute] = rankAttr :: Nil
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalRankExec(order, rankAttr, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalRankPlan = copy(child = newChild)
}

case class GlobalRankExec(order: Seq[SortOrder], rankAttr: Attribute,
                          child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = rankAttr :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val input = persistedInput()
    // pass 1: per-partition counts (counts only cross the driver)
    val counts = input.mapPartitions(
      it => Iterator.single(it.size.toLong), preservesPartitioning = true)
      .collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = input.sparkContext.broadcast(offsets)
    // pass 2: attach rank = offset + local index + 1. Output goes through
    // an UnsafeProjection (created per task — it holds codegen state):
    // operators like collect()'s byte-array path require UnsafeRow, and
    // nothing above this node is guaranteed to re-project.
    val types = output.map(_.dataType).toArray
    input.mapPartitionsWithIndex({ (pid, it) =>
      var i = bc.value(pid)
      val n = types.length
      val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(types)
      // one scratch row per task, reused: the projection copies the
      // values into its own buffer before the next iteration
      val out = new GenericInternalRow(n)
      it.map { row =>
        i += 1
        var j = 0
        while (j < n - 1) { out.update(j, row.get(j, types(j))); j += 1 }
        out.update(n - 1, i)
        proj(out)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalRankExec = copy(child = newChild)
}

object GlobalRank {

  /** df + `rank` column (long, 1..n) under the given total order — the
    * scale-out replacement for `row_number().over(Window.orderBy(...))`.
    * `keys` are (columnName, descending) pairs, significant first. */
  def ranked(df: DataFrame, keys: (String, Boolean)*): DataFrame = {
    val analyzed = SessionHooks.analyzed(df)
    SessionHooks.ofRows(df,
      GlobalRankPlan(SessionHooks.resolveOrder(analyzed, keys), analyzed))
  }
}
