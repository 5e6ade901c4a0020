package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
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

/** The contract every Global* exec shares, and the two-pass protocol it
  * runs. An un-partitioned window plans in Spark as a single-partition
  * WindowExec; these operators compute the same values with every stage
  * distributed:
  *
  *   1. the planner range-partitions and sorts the child: the exec asks
  *      for a global sort below it (exchange + per-partition sort), emits
  *      that sort as its own ordering, and keeps its child's
  *      partitioning — rows never move, so without that the default
  *      UnknownPartitioning would make EnsureRequirements re-shuffle
  *      every consumer wanting the same distribution. [[GlobalWindowRule]]
  *      stacks several of these nodes over ONE exchange + sort on exactly
  *      this contract;
  *   2. [[twoPass]] persists the sorted child once;
  *   3. pass 1 folds each partition into a small summary — counts,
  *      boundary rows, a composed transform — and collects them: the
  *      only data that crosses to the driver;
  *   4. the driver turns the summaries into one carry per partition (the
  *      exact state entering it, or the rows beyond its edges, chained
  *      across short and empty partitions) — O(partitions) work — and
  *      broadcasts them once;
  *   5. pass 2 streams each partition once from its carry. The exec
  *      writes only its appended values ([[AddedRow]]); each output row
  *      is the child row joined to them, through one UnsafeProjection per
  *      task, as in Spark's WindowExec.
  *
  * Each exec supplies only its summary, its carries and its per-row
  * logic. Those functions run in tasks, so they must not capture the
  * SparkPlan: execs read their fields into locals first, and per-partition
  * summaries are top-level classes. */
trait GlobalExec extends UnaryExecNode {
  def order: Seq[SortOrder]
  def added: Seq[Attribute]
  override def output: Seq[Attribute] = child.output ++ added
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** Runs the protocol: `summary(pid, rows)` per partition, then
    * `carries` on the driver (one carry per partition), then
    * `emit(carry, rows, out)` per partition. */
  protected def twoPass[S: ClassTag, C: ClassTag](
      summary: (Int, Iterator[InternalRow]) => S)(
      carries: Array[S] => Array[C])(
      emit: (C, Iterator[InternalRow], AddedRow) => Iterator[InternalRow])
  : RDD[InternalRow] = {
    val input = persistedInput()
    val summaries = input.mapPartitionsWithIndex(
      (pid, it) => Iterator.single(summary(pid, it)),
      preservesPartitioning = true).collect()
    val perPartition = carries(summaries)
    require(perPartition.length == summaries.length,
      s"${perPartition.length} carries for ${summaries.length} partitions")
    val bc = input.sparkContext.broadcast(perPartition)
    val attrs = output
    val nAdded = added.length
    input.mapPartitionsWithIndex(
      (pid, it) => emit(bc.value(pid), it, new AddedRow(attrs, nAdded)),
      preservesPartitioning = true)
  }

  /** The sorted child, persisted across the two passes: the exchange is
    * reused but the post-shuffle sort is not, and both passes must see
    * the identical row order (so results are stable even when `order` is
    * not total). Rows are copied first — operators reuse mutable UnsafeRow
    * buffers — so pass 2 may hold the rows it reads. Memory-pressured
    * partitions spill to disk; the ContextCleaner unpersists the blocks
    * once the RDD is unreachable after the query. */
  private def persistedInput(): RDD[InternalRow] = child.execute()
    .mapPartitions(it => it.map(_.copy()), preservesPartitioning = true)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}

/** Pass 2's output row, one per task: the exec sets the appended values
  * (`setLong`, `setDouble`, `update` — null means SQL NULL), then
  * `apply` joins them to the child row and projects the pair to an
  * UnsafeRow — consumers like collect()'s byte-array path require
  * UnsafeRow, and nothing above a Global* node is guaranteed to
  * re-project. The projection reuses one buffer, so a caller that holds
  * an emitted row past the next `apply` must copy it. */
final class AddedRow(output: Seq[Attribute], nAdded: Int) {
  private val values =
    new SpecificInternalRow(output.takeRight(nAdded).map(_.dataType))
  private val joined = new JoinedRow
  private val proj = UnsafeProjection.create(output, output)
  def setLong(i: Int, v: Long): Unit = values.setLong(i, v)
  def setDouble(i: Int, v: Double): Unit = values.setDouble(i, v)
  def update(i: Int, v: Any): Unit = values.update(i, v)
  /** Appended value `i` from field 0 of a single-column row; null when
    * `value` is null or holds NULL. */
  def setFrom(i: Int, value: UnsafeRow,
              dt: org.apache.spark.sql.types.DataType): Unit =
    if (value == null || value.isNullAt(0)) values.setNullAt(i)
    else values.update(i, value.get(0, dt))
  def apply(row: InternalRow): UnsafeRow = proj(joined(row, values))
}

/** Row-distance boundaries, shared by the operators whose pass 2 reads
  * the rows within a fixed distance across a partition edge
  * ([[GlobalShiftExec]], [[GlobalFrameExec]]). */
private[plans] object Boundary {
  /** Pass 1's capture: copies of the first `after` and the last `before`
    * of `rows` (which may reuse one buffer), in row order. A capture
    * shorter than requested holds the whole partition. */
  def capture(rows: Iterator[UnsafeRow], before: Int, after: Int)
  : (Array[UnsafeRow], Array[UnsafeRow]) = {
    val head = scala.collection.mutable.ArrayBuffer[UnsafeRow]()
    val ring = new Array[UnsafeRow](math.max(before, 1))
    var count = 0L
    rows.foreach { r =>
      if (count < after) head += r.copy()
      if (before > 0) ring((count % before).toInt) = r.copy()
      count += 1L
    }
    val m = math.min(count, before.toLong).toInt
    (head.toArray,
      Array.tabulate(m)(j => ring(((count - m + j) % before).toInt)))
  }

  /** Per partition, the `n` rows immediately before its first row, taken
    * from the earlier partitions' tails. The walk passes over partitions
    * shorter than the request: their tail is the whole partition, so no
    * in-range row is skipped. A result shorter than `n` means the corpus
    * starts within range. */
  def preceding(tails: Array[Array[UnsafeRow]], n: Int)
  : Array[Array[UnsafeRow]] = Array.tabulate(tails.length) { p =>
    val acc = scala.collection.mutable.ArrayDeque[UnsafeRow]()
    var q = p - 1
    while (acc.length < n && q >= 0) {
      val t = tails(q)
      t.takeRight(n - acc.length).reverseIterator.foreach(acc.prepend)
      q -= 1
    }
    acc.toArray
  }

  /** Per partition, the `n` rows immediately after its last row, from the
    * later partitions' heads (the mirror of [[preceding]]). */
  def following(heads: Array[Array[UnsafeRow]], n: Int)
  : Array[Array[UnsafeRow]] = Array.tabulate(heads.length) { p =>
    val acc = scala.collection.mutable.ArrayBuffer[UnsafeRow]()
    var q = p + 1
    while (acc.length < n && q < heads.length) {
      acc ++= heads(q).take(n - acc.length)
      q += 1
    }
    acc.toArray
  }
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
