package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** GLOBAL RANK as a first-class operator: `rank = 1..n` over a total order,
  * with NO single-partition stage.
  *
  * `row_number()` over an un-partitioned window (the direct translation of
  * the reference's single-reducer ranking, `StockCount.java:61-66`) funnels
  * every row through one partition — fine after an aggregation (key-space-
  * sized input), fatal on raw 100 TB data. This operator runs the
  * [[GlobalExec]] protocol instead: pass 1 counts each partition's rows
  * (numPartitions longs reach the driver), and pass 2 assigns
  * `rank = partitionOffset + localIndex + 1` — the mechanism of
  * `RDD.zipWithIndex`, planned as a Catalyst operator.
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

  // pass 1: row counts; carry: the rows before each partition
  override protected def doExecute(): RDD[InternalRow] =
    twoPass((_, it) => it.size.toLong)(_.scanLeft(0L)(_ + _).init) {
      (offset, it, out) =>
        var i = offset
        it.map { row => i += 1L; out.setLong(0, i); out(row) }
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
