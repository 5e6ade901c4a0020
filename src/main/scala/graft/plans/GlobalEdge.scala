package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** GLOBAL EDGE-VALUE WINDOW — `first_value` / `last_value` / `nth_value`
  * over a total order, with NO single-partition stage: the fourth member
  * of the two-pass family (GlobalRank: positions, GlobalTies: tie ranks,
  * GlobalScan: prefix aggregates, GlobalShift: fixed-distance shifts,
  * here: frame-edge values).
  *
  * An un-partitioned `first_value(x)` / `nth_value(x, n)` /
  * `last_value(x)` window plans in Spark as a single-partition WindowExec
  * even though the value each row needs is either (a) a SINGLE globally
  * fixed row — the first / n-th qualifying row of the whole ordering —
  * or (b) a row at the END of the current frame, reachable from
  * per-partition boundary state. In the [[GlobalExec]] protocol pass 1
  * ships per partition: row count, the first min(n, present) qualifying
  * values with their local positions ([[EdgeKind.At]]), the last non-null
  * value ([[EdgeKind.LastNonNull]]), and — for the default RANGE frame —
  * first/last row copies plus the leading tie-run's length and edge
  * values, so a peer group spanning partitions can be completed without
  * seeing its interior. The driver splices the n-th qualifying row's
  * GLOBAL position and value (At), each partition's carried-in "latest
  * non-null" (LastNonNull), and the trailing-group completion chain
  * (RANGE). Pass 2 streams each partition once (ROWS) or buffers one peer
  * group at a time (RANGE — the same bounded buffer WindowExec keeps for
  * a RANGE frame, distributed instead of all rows in one task).
  *
  * The kinds cover every analyzer shape of the three functions over the
  * running frames (UNBOUNDED PRECEDING .. CURRENT ROW, ROWS or the
  * default RANGE):
  *
  *   - `first_value(x)` respect-nulls = the globally first row's value —
  *     [[EdgeKind.At]](1) (the frame always contains row 1);
  *   - `first_value(x [IGNORE NULLS])` = the first NON-NULL value once
  *     the frame reaches it — At(1, ignoreNulls = true);
  *   - `nth_value(x, n)` = the n-th qualifying row's value once the frame
  *     contains it, NULL before — At(n, ·);
  *   - `last_value(x)` over ROWS = the current row's value — rewritten by
  *     [[GlobalWindowRule]] to a plain Project, no operator at all;
  *   - `last_value(x)` over the default RANGE frame = the current PEER
  *     GROUP's last value — [[EdgeKind.LastValue]];
  *   - `last_value(x IGNORE NULLS)` = the latest non-null value at or
  *     before the frame end — [[EdgeKind.LastNonNull]].
  *
  * Values are carried as single-column UnsafeRow copies, so any data type
  * rides through (strings, decimals, structs), not just longs.
  */
sealed abstract class EdgeKind extends Serializable
object EdgeKind {
  /** Emit the value of the globally n-th QUALIFYING row (qualifying =
    * non-null under ignoreNulls, every row otherwise) to each row whose
    * frame end has reached that row; NULL before. first_value is n = 1;
    * nth_value is the general case. `n` is capped at
    * [[GlobalEdge.MaxN]] — pass 1 ships at most n values per partition. */
  case class At(n: Int, ignoreNulls: Boolean) extends EdgeKind {
    require(n > 0, "nth_value position must be positive")
  }
  /** The frame's last row's value — last_value respect-nulls over the
    * default RANGE frame: every peer shares the tie group's last value
    * (the group may span partitions; the driver chains its completion). */
  case object LastValue extends EdgeKind
  /** The latest non-null value at or before the frame end — last_value
    * IGNORE NULLS (ROWS: per row; RANGE: per peer-group end). */
  case object LastNonNull extends EdgeKind
}

object GlobalEdgePlan {
  /** Output column typed like the input; nullability per kind: At(n > 1)
    * and ignore-nulls kinds can emit NULL before the n-th qualifying row
    * exists even over a non-nullable input; At(1) respect-nulls always
    * has a frame containing row 1, so it is exactly as nullable as the
    * input; LastValue emits a real row's value. */
  def apply(order: Seq[SortOrder], kind: EdgeKind, range: Boolean,
            input: Attribute, child: LogicalPlan): GlobalEdgePlan = {
    val nullable = kind match {
      case EdgeKind.At(1, false) => input.nullable
      case EdgeKind.LastValue => input.nullable
      case _ => true
    }
    GlobalEdgePlan(order, kind, range, input, child,
      AttributeReference("edge", input.dataType, nullable)())
  }
}

case class GlobalEdgePlan(order: Seq[SortOrder], kind: EdgeKind,
    range: Boolean, input: Attribute, child: LogicalPlan,
    edgeAttr: AttributeReference)
  extends GlobalNode {
  override def added: Seq[Attribute] = edgeAttr :: Nil
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalEdgeExec(order, kind, range, input, edgeAttr, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalEdgePlan = copy(child = newChild)
}

case class GlobalEdgeExec(order: Seq[SortOrder], kind: EdgeKind,
    range: Boolean, input: Attribute, edgeAttr: Attribute,
    child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = edgeAttr :: Nil

  import GlobalEdgeExec.{EdgeCarry, EdgeChain, EdgePartial}

  override protected def doExecute(): RDD[InternalRow] = {
    val ordinal = child.output.indexWhere(_.exprId == input.exprId)
    require(ordinal >= 0, s"edge column $input not in child output")
    val valueType = input.dataType
    val valueNullable = input.nullable
    val valueCol = Seq(BoundReference(ordinal, valueType, valueNullable))
    val theKind = kind // stable locals for task closures
    val isRange = range
    val orderLocal = order
    val childOutput = child.output
    // how many qualifying head values pass 1 must keep per partition
    val need = theKind match {
      case EdgeKind.At(n, _) => n
      case _ => 0
    }
    val qualifiesNonNull = theKind match {
      case EdgeKind.At(_, ig) => ig
      case _ => false
    }
    val wantLastNonNull = theKind == EdgeKind.LastNonNull
    // pass 1: constant-size partials per partition (at most `need`
    // single-column values plus two boundary rows)
    twoPass { (_, it) =>
      val proj = UnsafeProjection.create(valueCol)
      val cmp = if (isRange) RowOrdering.create(orderLocal, childOutput)
        else null
      var count = 0L
      val headPos = new scala.collection.mutable.ArrayBuffer[Long]
      val headVal = new scala.collection.mutable.ArrayBuffer[UnsafeRow]
      var lastNonNull: UnsafeRow = null
      var first: InternalRow = null; var prev: InternalRow = null
      var leading = true; var leadEq = 0L
      var leadLastVal: UnsafeRow = null
      var leadLastNonNull: UnsafeRow = null
      it.foreach { row =>
        if (isRange) {
          // leading iff the row ties the partition's FIRST row (ties are
          // transitive under compare == 0)
          if (first == null) first = row
          else if (leading && cmp.compare(first, row) != 0) leading = false
          prev = row
          if (leading) {
            leadEq += 1L
            leadLastVal = proj(row).copy()
            if (!leadLastVal.isNullAt(0)) leadLastNonNull = leadLastVal
          }
        }
        val isNull = valueNullable && row.isNullAt(ordinal)
        if (headVal.length < need && (!qualifiesNonNull || !isNull)) {
          headPos += count
          headVal += proj(row).copy()
        }
        if (wantLastNonNull && !isNull) lastNonNull = proj(row).copy()
        count += 1L
      }
      EdgePartial(count, headPos.toArray, headVal.toArray, lastNonNull,
        first, prev, leadEq, leadLastVal, leadLastNonNull)
    } { partials =>
      val nP = partials.length
      val rowOffsets = partials.map(_.count).scanLeft(0L)(_ + _)
      // driver: splice the n-th qualifying row's global position + value.
      // A partial's head array shorter than `need` holds ALL that
      // partition's qualifying rows (the cap is min(n, present)), so the
      // walk never misses one. No n-th row in the corpus -> threshold
      // MaxValue: every row emits NULL (the frame never contains it).
      var atThreshold = Long.MaxValue
      var atValue: UnsafeRow = null
      theKind match {
        case EdgeKind.At(n, _) =>
          var qualSoFar = 0L
          var q = 0
          var found = false
          while (!found && q < nP) {
            val h = partials(q)
            val want = n - qualSoFar
            if (h.headVal.length >= want) {
              atThreshold = rowOffsets(q) + h.headPos(want.toInt - 1) + 1L
              atValue = h.headVal(want.toInt - 1)
              found = true
            } else {
              qualSoFar += h.headVal.length
              q += 1
            }
          }
        case _ =>
      }
      // driver: per-partition carried-in "latest non-null" — the nearest
      // earlier partition that saw one (nulls-only partitions are
      // transparent)
      val carryNonNull = new Array[UnsafeRow](nP)
      if (wantLastNonNull) {
        var latest: UnsafeRow = null
        var p = 0
        while (p < nP) {
          carryNonNull(p) = latest
          if (partials(p).lastNonNull != null) latest = partials(p).lastNonNull
          p += 1
        }
      }
      // RANGE: trailing-group completion per partition — chain the leading
      // runs of later partitions whose rows tie this partition's last row
      // (GlobalTiesExec's boundary chain, applied to edge values). The LAST
      // chained partition's leading-run edge is the group's true edge.
      val chains = new Array[EdgeChain](nP)
      if (isRange) {
        val cmp = RowOrdering.create(orderLocal, childOutput)
        var p = 0
        while (p < nP) {
          var len = 0L
          var lastVal: UnsafeRow = null
          var lastNonNull: UnsafeRow = null
          val pp = partials(p)
          if (pp.count > 0L) {
            var q = p + 1; var chained = true
            while (chained && q < nP) {
              val pq = partials(q)
              if (pq.count == 0L) q += 1 // empty partitions are transparent
              else if (cmp.compare(pp.last, pq.first) == 0) {
                len += pq.leadEq
                lastVal = pq.leadLastVal
                if (pq.leadLastNonNull != null) lastNonNull = pq.leadLastNonNull
                // the chain continues past q only if ALL of q is one group
                chained = pq.leadEq == pq.count
                q += 1
              } else chained = false
            }
          }
          chains(p) = EdgeChain(len, lastVal, lastNonNull)
          p += 1
        }
      }
      Array.tabulate(nP)(p => EdgeCarry(rowOffsets(p), atThreshold, atValue,
        carryNonNull(p), chains(p)))
    } { (carry, it, out) =>
      val base = carry.rowOffset
      val threshold = carry.threshold
      val value = carry.atValue
      val valueProj = UnsafeProjection.create(valueCol)
      def emit(row: InternalRow, edge: UnsafeRow): UnsafeRow = {
        out.setFrom(0, edge, valueType)
        out(row)
      }
      if (!isRange) theKind match {
        case EdgeKind.At(_, _) =>
          // frame end = the row itself: emit once the global position
          // reaches the spliced threshold
          var pos = base
          it.map { row =>
            pos += 1L
            emit(row, if (pos >= threshold) value else null)
          }
        case EdgeKind.LastNonNull =>
          var latest = carry.lastNonNull
          it.map { row =>
            if (!(valueNullable && row.isNullAt(ordinal)))
              latest = valueProj(row).copy()
            emit(row, latest)
          }
        case EdgeKind.LastValue =>
          // unreachable: the rule rewrites ROWS-frame last_value to a
          // plain Project (the frame's last row IS the current row)
          it.map(row => emit(row, valueProj(row)))
      } else {
        // RANGE: buffer one peer group at a time (row references into
        // the persisted, copied input — safe to hold); every peer gets
        // the group-END edge; the partition's LAST group folds in the
        // driver-chained completion. Memory: the largest peer group —
        // the buffer WindowExec keeps for a RANGE frame, distributed.
        val chain = carry.chain
        val cmp2 = RowOrdering.create(orderLocal, childOutput)
        val peers = it.buffered
        val group = new scala.collection.mutable.ArrayBuffer[InternalRow]
        var groupEdge: UnsafeRow = null
        var gi = 0
        var pos = base // global 1-based position of the last consumed row
        var latest = carry.lastNonNull
        new Iterator[InternalRow] {
          override def hasNext: Boolean = gi < group.length || peers.hasNext
          override def next(): InternalRow = {
            if (gi >= group.length) {
              group.clear(); gi = 0
              val head = peers.next(); group += head
              while (peers.hasNext && cmp2.compare(head, peers.head) == 0)
                group += peers.next()
              pos += group.length
              val isTrailing = !peers.hasNext
              groupEdge = theKind match {
                case EdgeKind.At(_, _) =>
                  // frame end = group end; the trailing group extends by
                  // the chained peers in later partitions
                  val endPos = pos + (if (isTrailing) chain.len else 0L)
                  if (endPos >= threshold) value else null
                case EdgeKind.LastValue =>
                  if (isTrailing && chain.lastVal != null) chain.lastVal
                  else valueProj(group(group.length - 1)).copy()
                case EdgeKind.LastNonNull =>
                  var j = 0
                  while (j < group.length) {
                    val r = group(j)
                    if (!(valueNullable && r.isNullAt(ordinal)))
                      latest = valueProj(r).copy()
                    j += 1
                  }
                  // chained peers come AFTER the local rows in the total
                  // order, so their last non-null (if any) wins
                  if (isTrailing && chain.lastNonNull != null)
                    chain.lastNonNull
                  else latest
              }
            }
            val row = group(gi); gi += 1
            emit(row, groupEdge)
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalEdgeExec = copy(child = newChild)
}

object GlobalEdgeExec {
  /** Per-partition pass-1 summary. `headPos`/`headVal` are the first
    * min(n, present) QUALIFYING rows' local positions and value copies;
    * `lastNonNull` the partition's last non-null value (null if none);
    * `first`/`last` row copies and the `lead*` fields describe the
    * leading tie-run (RANGE frames only — null/0 otherwise). Top-level
    * (not nested in the exec) so task closures don't drag the SparkPlan
    * in. */
  private[plans] case class EdgePartial(count: Long, headPos: Array[Long],
      headVal: Array[UnsafeRow], lastNonNull: UnsafeRow,
      first: InternalRow, last: InternalRow, leadEq: Long,
      leadLastVal: UnsafeRow, leadLastNonNull: UnsafeRow)

  /** Driver-chained completion of a partition's trailing peer group:
    * how many later-partition rows tie its last row (`len`), the chained
    * group's true last value, and its last non-null value (nulls mean
    * "no contribution"). */
  private[plans] case class EdgeChain(len: Long, lastVal: UnsafeRow,
      lastNonNull: UnsafeRow)

  /** Per-partition carry: rows before the partition, the n-th qualifying
    * row's global 1-based position (`threshold`, MaxValue when there is
    * none) and value, the latest non-null value before the partition,
    * and its trailing group's chain (RANGE only). */
  private[plans] case class EdgeCarry(rowOffset: Long, threshold: Long,
      atValue: UnsafeRow, lastNonNull: UnsafeRow, chain: EdgeChain)
}

object GlobalEdge {
  /** nth_value positions beyond this keep WindowExec: pass 1 ships up to
    * n single-column values per partition, and a frame edge thousands of
    * rows deep is no longer "a fixed small position" (same contract as
    * [[GlobalShift.MaxOffset]]). */
  val MaxN = 1024
}
