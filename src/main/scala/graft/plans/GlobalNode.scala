package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{PlanLater, SparkPlan, UnaryExecNode}

/** A Global* logical node: a 1:1 operator appending `added` columns to
  * its child's rows under a total order, with no single-partition stage.
  * Each node builds its own exec, so one [[GlobalStrategy]] plans all of
  * them. The appended attributes are constructor fields of every node
  * (not body vals), so copy()/transform preserve their exprIds. */
trait GlobalNode extends UnaryNode {
  def added: Seq[Attribute]
  def exec(planned: SparkPlan): SparkPlan
  override def output: Seq[Attribute] = child.output ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)
  override def maxRows: Option[Long] = child.maxRows
}

/** The contract every Global* exec shares. It asks the planner for a
  * global sort below it (range-partitioned exchange + per-partition
  * sort, fully distributed), emits that sort as its own ordering, and
  * keeps its child's partitioning: rows never move, so without that the
  * default UnknownPartitioning would make EnsureRequirements re-shuffle
  * every consumer wanting the same distribution. [[GlobalWindowRule]]
  * stacks several of these nodes over ONE exchange + sort on exactly
  * this contract. */
trait GlobalExec extends UnaryExecNode {
  def order: Seq[SortOrder]
  def added: Seq[Attribute]
  override def output: Seq[Attribute] = child.output ++ added
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The sorted child, persisted across the operator's two passes: the
    * exchange is reused but the post-shuffle sort is not, and both passes
    * must see the identical row order (so results are stable even when
    * `order` is not total). Rows are copied first — operators reuse
    * mutable UnsafeRow buffers. Memory-pressured partitions spill to
    * disk; the ContextCleaner unpersists the blocks once the RDD is
    * unreachable after the query. */
  protected def persistedInput(): RDD[InternalRow] = child.execute()
    .mapPartitions(it => it.map(_.copy()), preservesPartitioning = true)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}

/** Plans every Global* logical node, whether [[GlobalWindowRule]] wrote
  * it or a DataFrame entry point (`GlobalRank.ranked`,
  * `GlobalScan.runningSum`, `GlobalFrame.sliding`, `Recurrence.scan`)
  * built it. */
object GlobalStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GlobalNode => g.exec(PlanLater(g.child)) :: Nil
    case _ => Nil
  }
}
