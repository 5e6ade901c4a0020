package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
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
  * in the same partition or within |n| rows of the boundary — so:
  *
  *   1. the input is total-ordered by range partitioning (planned sort);
  *   2. pass 1 collects each partition's row count and its first
  *      (lead) or last (lag) min(n, count) VALUES of the shifted column —
  *      at most n single-column rows per partition to the driver;
  *   3. the driver splices, per partition, the exact n values adjacent to
  *      its boundary (walking across short/empty partitions), and
  *      broadcasts them;
  *   4. pass 2 streams each partition once: lag keeps a ring buffer of
  *      the last n values (seeded from the boundary), lead holds a
  *      sliding queue of n pending rows and completes the tail from the
  *      boundary. Rows that have no source row at distance n get the
  *      (foldable) default.
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
    val valueNullable = input.nullable
    val inputRdd = persistedInput()
    // pass 1: count + the n boundary-adjacent VALUES per partition,
    // projected to single-column UnsafeRows (copies — any value type)
    val partials: Array[(Long, Array[UnsafeRow])] =
      inputRdd.mapPartitions({ it =>
        val proj = UnsafeProjection.create(
          Seq(BoundReference(ordinal, valueType, valueNullable)))
        // `count` counts QUALIFYING rows (all rows, or non-null values
        // under ignore-nulls) — the splice invariant "array shorter than
        // n means captured whole" must hold for the values that count
        var count = 0L
        if (isLag) {
          // last n qualifying values: ring buffer, then unroll in order
          val ring = new Array[UnsafeRow](n)
          it.foreach { row =>
            val pr = proj(row)
            if (!skipNulls || !pr.isNullAt(0)) {
              ring((count % n).toInt) = pr.copy()
              count += 1L
            }
          }
          val m = math.min(count, n.toLong).toInt
          val tail = new Array[UnsafeRow](m)
          var j = 0
          while (j < m) {
            tail(j) = ring(((count - m + j) % n).toInt); j += 1
          }
          Iterator.single((count, tail))
        } else {
          // first n values
          val head = scala.collection.mutable.ArrayBuffer[UnsafeRow]()
          it.foreach { row =>
            if (count < n) head += proj(row).copy()
            count += 1L
          }
          Iterator.single((count, head.toArray))
        }
      }, preservesPartitioning = true).collect()
    // driver: per partition, splice the n values adjacent to its boundary
    // (walking over partitions shorter than n). An array shorter than n
    // means the corpus genuinely ends within n rows — pass 2 reads that
    // as "no source row, emit default".
    val parts = partials.length
    val boundaries = new Array[Array[UnsafeRow]](parts)
    var p = 0
    while (p < parts) {
      val acc = new scala.collection.mutable.ArrayDeque[UnsafeRow]()
      // Walking past a partition is always safe: a pass-1 array shorter
      // than n means that partition was captured WHOLE (min(n, count)),
      // and one holding exactly n rows can satisfy any remaining need
      // by itself (need <= n), ending the walk via need == 0.
      if (isLag) {
        var need = n
        var q = p - 1
        while (need > 0 && q >= 0) {
          val t = partials(q)._2
          val take = math.min(need, t.length)
          var j = take - 1
          while (j >= 0) { acc.prepend(t(t.length - take + j)); j -= 1 }
          need -= take
          q -= 1
        }
      } else {
        var need = n
        var q = p + 1
        while (need > 0 && q < parts) {
          val t = partials(q)._2
          val take = math.min(need, t.length)
          var j = 0
          while (j < take) { acc.append(t(j)); j += 1 }
          need -= take
          q += 1
        }
      }
      boundaries(p) = acc.toArray
      p += 1
    }
    val bc = inputRdd.sparkContext.broadcast(boundaries)
    // pass 2
    val types = output.map(_.dataType).toArray
    val defaultExpr = default
    inputRdd.mapPartitionsWithIndex({ (pid, it) =>
      val boundary = bc.value(pid)
      val nCols = types.length
      val proj = UnsafeProjection.create(types)
      val valueProj = UnsafeProjection.create(
        Seq(BoundReference(ordinal, valueType, valueNullable)))
      val out = new GenericInternalRow(nCols)
      val defVal = defaultExpr.eval(InternalRow.empty)
      def emit(row: InternalRow, shifted: InternalRow): UnsafeRow = {
        var j = 0
        while (j < nCols - 1) { out.update(j, row.get(j, types(j))); j += 1 }
        if (shifted == null) {
          if (defVal == null) out.setNullAt(nCols - 1)
          else out.update(nCols - 1, defVal)
        } else if (shifted.isNullAt(0)) out.setNullAt(nCols - 1)
        else out.update(nCols - 1, shifted.get(0, valueType))
        proj(out)
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
    }, preservesPartitioning = true)
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
