package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** GLOBAL OFFSET WINDOW — `lag(x, n)` / `lead(x, n)` over a total order,
  * with NO single-partition stage: the third member of the two-pass
  * family (GlobalRank: positions, GlobalScan: prefix aggregates,
  * GlobalTies: tie ranks, here: row shifts).
  *
  * An un-partitioned `lag`/`lead` plans in Spark as a single-partition
  * WindowExec even though each output row depends on exactly ONE other
  * row, at a fixed distance. After range partitioning, that row is either
  * in the same partition or within |n| rows of the boundary — so in the
  * [[GlobalExec]] protocol pass 1 captures each partition's first (lead)
  * or last (lag) min(n, count) values, the driver splices the n values
  * adjacent to each boundary (walking across short/empty partitions), and
  * pass 2 streams each partition once: lag keeps a ring buffer of the
  * last n values (seeded from the boundary), lead holds a sliding queue
  * of n pending rows and completes the tail from the boundary. Rows that
  * have no source row at distance n get the (foldable) default.
  *
  * `offset` is SIGNED, matching Catalyst's Lag/Lead encoding: negative
  * looks back (lag), positive looks forward (lead). The rule caps |n| at
  * [[GlobalShift.MaxOffset]] — the boundary state is n rows per
  * partition, and a frame offset beyond that cap is no longer "a fixed
  * small distance" (WindowExec keeps those). */
case class GlobalShiftPlan(order: Seq[SortOrder], input: Attribute,
    offset: Int, default: Expression, ignoreNulls: Boolean,
    child: LogicalPlan, shiftAttr: AttributeReference)
  extends GlobalNode {
  override def added: Seq[Attribute] = shiftAttr :: Nil
  override def exec(planned: SparkPlan): SparkPlan = GlobalShiftExec(order,
    input, offset, default, ignoreNulls, shiftAttr, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalShiftPlan = copy(child = newChild)
}

object GlobalShiftPlan {
  /** Output column typed/nulled like the native Lag/Lead it replaces:
    * the input's type; nullable when the input or the default is. */
  def apply(order: Seq[SortOrder], input: Attribute, offset: Int,
            default: Expression, child: LogicalPlan,
            ignoreNulls: Boolean = false): GlobalShiftPlan =
    GlobalShiftPlan(order, input, offset, default, ignoreNulls, child,
      AttributeReference("shift", input.dataType,
        input.nullable || default.nullable)())
}

case class GlobalShiftExec(order: Seq[SortOrder], input: Attribute,
    offset: Int, default: Expression, ignoreNulls: Boolean,
    shiftAttr: Attribute, child: SparkPlan)
  extends GlobalExec {
  require(offset != 0, "offset 0 is the identity — WindowExec keeps it")
  override def added: Seq[Attribute] = shiftAttr :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val n = math.abs(offset)
    val isLag = offset < 0
    // ignore-nulls LEAD never reaches the exec: the rule plans it as
    // ignore-nulls lag over the REVERSED order (a forward pending queue
    // would hold an unbounded run of null-valued rows; the backward ring
    // holds exactly n non-null values)
    require(isLag || !ignoreNulls,
      "ignore-nulls lead plans as reversed-order lag")
    val skipNulls = ignoreNulls
    val ordinal = child.output.indexWhere(_.exprId == input.exprId)
    require(ordinal >= 0, s"shift column $input not in child output")
    val valueType = input.dataType
    val value = Seq(BoundReference(ordinal, valueType, input.nullable))
    val defaultExpr = default
    // pass 1: the n boundary-adjacent VALUES per partition — lag the last
    // n QUALIFYING values (all rows, or non-null values under
    // ignore-nulls: a capture shorter than n must mean "captured whole"
    // for the values that count), lead the first n
    twoPass { (_, it) =>
      val proj = UnsafeProjection.create(value)
      val values = it.map(row => proj(row))
      if (isLag)
        Boundary.capture(values.filter(v => !skipNulls || !v.isNullAt(0)),
          n, 0)._2
      else Boundary.capture(values, 0, n)._1
    } { edges =>
      // carry: the n values adjacent to each partition's boundary. One
      // shorter than n means the corpus genuinely ends within n rows —
      // pass 2 reads that as "no source row, emit default".
      if (isLag) Boundary.preceding(edges, n) else Boundary.following(edges, n)
    } { (boundary, it, out) =>
      val valueProj = UnsafeProjection.create(value)
      val defVal = defaultExpr.eval(InternalRow.empty)
      def emit(row: InternalRow, shifted: UnsafeRow): UnsafeRow = {
        if (shifted == null) out.update(0, defVal)
        else out.setFrom(0, shifted, valueType)
        out(row)
      }
      if (isLag) {
        // ring of the last n pushed values, push order = boundary rows
        // then local rows. The value pushed n positions ago lives in
        // EXACTLY the slot the current push reuses (pos - n ≡ pos mod n),
        // so read before overwrite. A boundary shorter than n means the
        // corpus genuinely has only that many earlier rows — until pos
        // reaches n there is no source row and the default applies.
        val ring = new Array[UnsafeRow](n)
        var pos = 0L
        var i = 0
        while (i < boundary.length) {
          ring((pos % n).toInt) = boundary(i); pos += 1L; i += 1
        }
        it.map { row =>
          val slot = (pos % n).toInt
          val shifted = if (pos >= n) ring(slot) else null
          val outRow = emit(row, shifted)
          // under ignore-nulls only non-null values advance the ring —
          // the read above is then "the n-th previous NON-NULL value"
          val pr = valueProj(row)
          if (!skipNulls || !pr.isNullAt(0)) {
            ring(slot) = pr.copy()
            pos += 1L
          }
          outRow
        }
      } else {
        // sliding queue of n pending rows; each new row completes the
        // oldest; the tail completes from the boundary (or defaults)
        val pending = new scala.collection.mutable.ArrayDeque[InternalRow]()
        val base = it.flatMap { row =>
          pending.append(row)
          if (pending.length > n) {
            val oldest = pending.removeHead()
            Iterator.single(emit(oldest, valueProj(row)))
          } else Iterator.empty
        }
        // Iterator.++'s operand is by-name: the flush below only runs
        // after base is exhausted, when pending holds the final
        // min(n, count) rows. Row j of that tail needs the value at
        // global distance n, which is boundary row (n - size + j); past
        // the boundary's end the corpus is over and the default applies.
        base ++ {
          val s = pending.length
          pending.zipWithIndex.iterator.map { case (row, j) =>
            val bIdx = n - s + j
            emit(row, if (bIdx < boundary.length) boundary(bIdx) else null)
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalShiftExec = copy(child = newChild)
}

object GlobalShift {
  /** Boundary state is |offset| single-column rows per partition on the
    * driver; beyond this the frame is no longer a small fixed distance
    * and WindowExec keeps it. */
  val MaxOffset = 1024
}
