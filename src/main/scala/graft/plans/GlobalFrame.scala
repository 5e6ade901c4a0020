package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** GLOBAL SLIDING FRAME — `agg(x) OVER (ORDER BY ... ROWS BETWEEN lo AND
  * hi)` for ANY bounded row frame (trailing `k PRECEDING .. CURRENT ROW`,
  * centered `k PRECEDING .. k FOLLOWING`, lookahead `CURRENT ROW .. k
  * FOLLOWING`, detached `j PRECEDING .. i PRECEDING`), with NO PARTITION
  * BY and NO single-partition stage: the bounded-frame member of the
  * two-pass family (GlobalRank: positions, GlobalTies: tie ranks,
  * GlobalScan: prefix aggregates, GlobalShift: row offsets, GlobalEdge:
  * frame edges, here: sliding aggregates).
  *
  * Spark plans an un-partitioned sliding window as one WindowExec on one
  * partition, even though each output row depends on a bounded
  * neighborhood of at most hi-lo+1 rows. After range partitioning that
  * neighborhood is either local or within max(|lo|, |hi|) rows of a
  * partition boundary — the locality GlobalShift exploits for one offset
  * row, generalized to a frame. In the [[GlobalExec]] protocol pass 1
  * captures each partition's LAST `before` and FIRST `after` value rows
  * (before = max(0,-min lo), after = max(0, max hi)), the driver splices
  * the exact rows preceding each partition's first row and following its
  * last ([[Boundary]]), and pass 2 streams preceding boundary ++ local
  * rows ++ following boundary through a bounded ring buffer: a local row
  * is emitted once the stream has advanced max(hi,0) rows past it (a
  * pending queue of at most that many rows), so every frame the emission
  * reads is complete.
  *
  * Per-row cost, per aggregate: count / count(*) / legacy sum are O(1)
  * (per-spec enter/exit pointers — every stream index enters and leaves
  * each spec's frame exactly once; wrapping long arithmetic is a ring,
  * so subtract-on-exit is exact); min/max are amortized O(1) via
  * monotonic deques (dominated candidates never resurface); ANSI sum and
  * avg re-fold the frame in order, O(frame) — ANSI sum must raise
  * exactly when the native window's in-order partial sum overflows, and
  * avg must reproduce the native Average's in-frame-order Double
  * accumulation bit-for-bit (Spark's SlidingWindowFunctionFrame
  * recomputes the buffer per slide the same way). |lo| and |hi| are
  * capped at [[GlobalFrame.MaxFrame]] — the boundary state is that many
  * narrow rows per partition, and a frame wider than that is no longer
  * "a small bounded neighborhood" (WindowExec keeps those).
  *
  * Frames that do NOT cover the current row (hi < 0 or lo > 0) can be
  * EMPTY at the corpus edges: sum/min/max/avg emit NULL there, counts 0
  * — native window semantics, encoded in the output nullability.
  *
  * Aggregate kinds, value typing, widening and result nullability are
  * shared with GlobalScan ([[ScanKind]]): sums/avgs run on Long (the rule
  * widens integral inputs below the plan), extrema fold any orderable
  * type under its interpreted ordering, counts never touch the value.
  */
case class FrameSpec(kind: ScanKind, lo: Int, hi: Int, ansi: Boolean)
  extends Serializable {
  require(lo <= hi, s"frame bounds out of order: [$lo, $hi]")
  /** The frame covers the current row — it can never be empty. */
  def coversCurrent: Boolean = lo <= 0 && 0 <= hi
}

// Output type/nullability mirror the window aggregate this replaces —
// same derivation as GlobalScanPlan, plus: a frame that does not cover
// the current row can be EMPTY at the corpus edges, so sum/min/max/avg
// are nullable there even over a non-null value column. Constructor
// field, not a body val: copy()/transform preserve the exprIds.
object GlobalFramePlan {
  def apply(order: Seq[SortOrder], specs: Seq[FrameSpec],
            values: Seq[Attribute], child: LogicalPlan): GlobalFramePlan = {
    require(specs.nonEmpty, "GlobalFramePlan needs at least one spec")
    require(specs.length == values.length,
      "one value column per spec (a placeholder for count(*))")
    val attrs = specs.zip(values).map { case (sp, value) =>
      if (sp.kind == ScanKind.Sum || sp.kind == ScanKind.Avg)
        require(value.dataType == LongType,
          s"${sp.kind.sql} needs a LongType value column, got " +
            s"${value.dataType} (the rule widens integral inputs)")
      val maybeEmpty = !sp.coversCurrent
      val (dt, nullable) = sp.kind match {
        case ScanKind.Count | ScanKind.Rows =>
          (LongType: org.apache.spark.sql.types.DataType, false)
        case ScanKind.Avg =>
          (org.apache.spark.sql.types.DoubleType,
            value.nullable || maybeEmpty)
        case ScanKind.Min | ScanKind.Max =>
          (value.dataType, value.nullable || maybeEmpty)
        case _ => (LongType, value.nullable || maybeEmpty)
      }
      AttributeReference("frame", dt, nullable)()
    }
    GlobalFramePlan(order, specs, values, child, attrs)
  }

  /** Single-aggregate convenience (the [[GlobalFrame.trailing]] /
    * [[GlobalFrame.sliding]] entry points and tests). */
  def apply(order: Seq[SortOrder], value: Attribute, child: LogicalPlan,
            lo: Int, hi: Int, kind: ScanKind,
            ansi: Boolean): GlobalFramePlan =
    apply(order, Seq(FrameSpec(kind, lo, hi, ansi)), Seq(value), child)
}

// `values` is a first-class Seq[Attribute] field (not folded into the
// specs) so the planner's expression traversal sees it: column pruning
// keeps the inputs alive and transformExpressions rewrites their exprIds.
case class GlobalFramePlan(order: Seq[SortOrder], specs: Seq[FrameSpec],
    values: Seq[Attribute], child: LogicalPlan,
    frameAttrs: Seq[AttributeReference])
  extends GlobalNode {
  override def added: Seq[Attribute] = frameAttrs
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalFrameExec(order, specs, values, frameAttrs, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalFramePlan = copy(child = newChild)
}

case class GlobalFrameExec(order: Seq[SortOrder], specs: Seq[FrameSpec],
    values: Seq[Attribute], frameAttrs: Seq[Attribute], child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = frameAttrs

  override protected def doExecute(): RDD[InternalRow] = {
    val nSpecs = specs.length
    val ords = values.map(v =>
      child.output.indexWhere(_.exprId == v.exprId)).toArray
    values.zip(ords).foreach { case (v, o) =>
      require(o >= 0, s"value column $v not in child output") }
    val dts = values.map(_.dataType).toArray
    // one projected field PER SPEC (count(*)'s placeholder included —
    // never evaluated, but a uniform row layout keeps field index ==
    // spec index everywhere)
    val bounds = ords.indices.map(i =>
      BoundReference(ords(i), dts(i), nullable = values(i).nullable))
    val kinds = specs.map(_.kind).toArray
    val los = specs.map(_.lo).toArray
    val his = specs.map(_.hi).toArray
    val ansis = specs.map(_.ansi).toArray
    // rows the boundary must carry: `before` preceding rows (frames
    // reaching back) and `after` following rows (frames reaching
    // forward); `delay` = pushes a local row waits before emission
    val before = math.max(0, -los.min)
    val after = math.max(0, his.max)
    val delay = after
    // ring retention: an emission at stream index e reads down to
    // e + min(lo) - 1 (the departure read) while the stream head is at
    // e + max(hi,0) — plus one slot so the departing entry is never the
    // slot the newest push just reused
    val width = after + before + 2

    // pass 1: each partition's FIRST `after` and LAST `before` value
    // rows, in row order — narrow rows only
    twoPass { (_, it) =>
      val proj = UnsafeProjection.create(bounds)
      Boundary.capture(it.map(row => proj(row)), before, after)
    } { parts =>
      // carry: the `before` rows immediately preceding each partition's
      // first row and the `after` rows following its last. Shorter than
      // requested means the corpus genuinely ends within range — pass 2
      // reads that as "frame truncated at the edge".
      Boundary.preceding(parts.map(_._2), before)
        .zip(Boundary.following(parts.map(_._1), after))
    } { case ((boundary, lookahead), it, out) =>
      // one streaming pass: preceding boundary ++ local rows ++ following
      // boundary, through a ring of the last `width` value rows; a local
      // row emits once the stream is `delay` pushes past it (pending
      // queue), so its widest frame is fully pushed.
      val valueProj = UnsafeProjection.create(bounds)
      val ring = new Array[UnsafeRow](width)
      var last = -1L // stream index of the most recent push
      var emitIdx = -1L // stream index of the most recent emission

      // per-spec sliding state. Every stream index ENTERS spec i's
      // incremental state when the emission cursor's frame reaches it
      // (entered(i) advances to min(e + hi_i, last)) and LEAVES when the
      // cursor passes it (left(i) advances to e + lo_i - 1) — each index
      // enters/leaves once, so the work is O(1) amortized per spec.
      val cnt = new Array[Long](nSpecs)  // non-null values in frame
      val wsum = new Array[Long](nSpecs) // wrapping frame sum (legacy)
      val entered = Array.fill(nSpecs)(-1L)
      val left = Array.fill(nSpecs)(-1L)
      val isExt = kinds.map(kd => kd == ScanKind.Min || kd == ScanKind.Max)
      val isMin = kinds.map(_ == ScanKind.Min)
      val incremental = Array.tabulate(nSpecs)(i =>
        kinds(i) == ScanKind.Count ||
          (kinds(i) == ScanKind.Sum && !ansis(i)))
      // interpreted orderings for the extremum deques (DataType ships
      // fine; the ordering itself is built per task)
      val gord = Array.tabulate(nSpecs)(i =>
        if (isExt(i))
          org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(dts(i))
        else null)
      // monotonic deques: (stream index, boxed value), indexes strictly
      // increasing front to back, values strictly improving toward the
      // front in the spec's direction. Values are extracted at entry
      // from that push's own row copy, so later ring-slot reuse never
      // invalidates them.
      val deques = Array.fill(nSpecs)(
        new scala.collection.mutable.ArrayDeque[(Long, Any)]())

      def push(vrow: UnsafeRow): Unit = {
        last += 1L
        ring((last % width).toInt) = vrow
      }

      def emit(row: InternalRow): UnsafeRow = {
        emitIdx += 1L
        var i = 0
        while (i < nSpecs) {
          // frame of this emission in stream space, truncated to what
          // exists: [loIdx, hiIdx] (empty when hiIdx < loIdx — frames
          // not covering the current row, at the corpus edges)
          val loIdx = math.max(0L, emitIdx + los(i))
          val hiIdx = math.min(last, emitIdx + his(i))
          if (incremental(i) || isExt(i)) {
            // ENTER every stream index up to the frame end, in ascending
            // order — each index enters exactly once, so the deque's
            // front-to-back index invariant holds and the enter/leave
            // pointers stay symmetric (an index below loIdx entered here
            // departs or expires within this same emission)
            var u = entered(i) + 1L
            while (u <= hiIdx) {
              val vrow = ring((u % width).toInt)
              if (!vrow.isNullAt(i)) {
                if (incremental(i)) {
                  cnt(i) += 1L
                  if (kinds(i) == ScanKind.Sum) wsum(i) += vrow.getLong(i)
                }
                if (isExt(i)) {
                  val v = vrow.get(i, dts(i))
                  val dq = deques(i)
                  val ord = gord(i)
                  // a back entry the new value ties-or-beats can never
                  // be the frame extremum again (newer AND as good)
                  while (dq.nonEmpty && {
                    val c = ord.compare(dq.last._2, v)
                    if (isMin(i)) c >= 0 else c <= 0
                  }) dq.removeLast()
                  dq.append((u, v))
                }
              }
              u += 1L
            }
            entered(i) = math.max(entered(i), hiIdx)
            // then LEAVE every index the frame start has passed — but
            // only ones actually entered (an empty frame's start can
            // point past the stream end)
            if (incremental(i)) {
              val dMax = math.min(loIdx - 1L, entered(i))
              var d = left(i) + 1L
              while (d <= dMax) {
                val drow = ring((d % width).toInt)
                if (!drow.isNullAt(i)) {
                  cnt(i) -= 1L
                  if (kinds(i) == ScanKind.Sum) wsum(i) -= drow.getLong(i)
                }
                d += 1L
              }
              left(i) = math.max(left(i), dMax)
            }
          }
          kinds(i) match {
            case ScanKind.Rows =>
              out.setLong(i, math.max(0L, hiIdx - loIdx + 1L))
            case ScanKind.Count =>
              out.setLong(i, cnt(i))
            case ScanKind.Sum if !ansis(i) =>
              out.update(i, if (cnt(i) == 0L) null else wsum(i))
            case ScanKind.Sum => // ANSI: exact in-order re-fold — must
              // raise exactly when the native window's in-order frame
              // partial overflows (enter/exit deltas could overflow the
              // accumulator on frames whose own sum is in range)
              var s = 0L; var any = false
              var idx = loIdx
              while (idx <= hiIdx) {
                val r = ring((idx % width).toInt)
                if (!r.isNullAt(i)) {
                  s = Math.addExact(s, r.getLong(i)); any = true
                }
                idx += 1L
              }
              out.update(i, if (any) s else null)
            case ScanKind.Avg =>
              // native parity: window Average accumulates the frame in
              // Double, in frame order, recomputed per slide
              // (SlidingWindowFunctionFrame) — reproduce bit-for-bit
              var d = 0.0; var c = 0L
              var idx = loIdx
              while (idx <= hiIdx) {
                val r = ring((idx % width).toInt)
                if (!r.isNullAt(i)) { d += r.getLong(i); c += 1L }
                idx += 1L
              }
              out.update(i, if (c > 0L) d / c else null)
            case _ => // Min | Max: expire, then read the front
              val dq = deques(i)
              while (dq.nonEmpty && dq.head._1 < loIdx) dq.removeHead()
              out.update(i,
                if (dq.isEmpty || dq.head._1 > hiIdx) null else dq.head._2)
          }
          i += 1
        }
        out(row)
      }

      boundary.foreach(push)
      emitIdx = last // emissions start at the first LOCAL stream index
      // local rows pending emission while the stream runs `delay` ahead;
      // the iterator over the persisted block yields distinct row
      // objects, so holding them is safe
      val pending = new scala.collection.mutable.ArrayDeque[InternalRow]()
      val main = it.flatMap { row =>
        pending.append(row)
        push(valueProj(row).copy())
        if (pending.length > delay)
          Iterator.single(emit(pending.removeHead()))
        else Iterator.empty
      }
      // Iterator.++'s operand is by-name: the tail below only runs after
      // `main` is exhausted. Push the following boundary (draining one
      // pending emission per push), then flush what remains — their
      // frames truncate at the corpus end.
      main ++ {
        val drained = lookahead.iterator.flatMap { vrow =>
          push(vrow)
          if (pending.length > delay)
            Iterator.single(emit(pending.removeHead()))
          else Iterator.empty
        }
        drained ++ pending.iterator.map(emit)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalFrameExec = copy(child = newChild)
}

object GlobalFrame {
  /** Boundary state is up to MaxFrame narrow rows per direction per
    * partition on the driver (and a bounded ring + pending queue per
    * task); beyond this the frame is no longer a small bounded
    * neighborhood and WindowExec keeps it. */
  val MaxFrame = 1024

  /** df + `frame` column: the `[lo, hi]` ROWS-frame sliding `kind`
    * aggregate of `valueCol` under the total order given by `keys`
    * ((name, descending) pairs) — the scale-out replacement for
    * `agg(value).over(Window.orderBy(...).rowsBetween(lo, hi))`. */
  def sliding(df: DataFrame, valueCol: String, lo: Int, hi: Int,
              kind: ScanKind, keys: (String, Boolean)*): DataFrame = {
    val plan = SessionHooks.analyzed(df)
    val value = SessionHooks.attr(plan, valueCol)
    if (kind == ScanKind.Sum || kind == ScanKind.Avg)
      require(value.dataType == LongType,
        s"sliding ${kind.sql} needs a LongType value column, got " +
          s"${value.dataType}")
    SessionHooks.ofRows(df,
      GlobalFramePlan(SessionHooks.resolveOrder(plan, keys), value, plan,
        lo, hi, kind,
        ansi = df.sparkSession.sessionState.conf.ansiEnabled))
  }

  /** Trailing-frame shorthand: `[−k, 0]`. */
  def trailing(df: DataFrame, valueCol: String, k: Int,
               kind: ScanKind, keys: (String, Boolean)*): DataFrame =
    sliding(df, valueCol, -k, 0, kind, keys: _*)
}
