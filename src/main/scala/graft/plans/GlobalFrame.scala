package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

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
  * rows ++ following boundary through [[SlidingFrames]]. The frame ends
  * move by stream index: the emission at index e reads
  * `[max(0, e + lo), min(last, e + hi) + 1)`. A local row is emitted once
  * the stream has advanced max(hi,0) rows past it (a pending queue of at
  * most that many rows), so every frame the emission reads is complete.
  * |lo| and |hi| are capped at [[GlobalFrame.MaxFrame]] — the boundary
  * state is that many narrow rows per partition, and a frame wider than
  * that is no longer "a small bounded neighborhood" (WindowExec keeps
  * those).
  *
  * Frames that do NOT cover the current row (hi < 0 or lo > 0) can be
  * EMPTY at the corpus edges: sum/min/max/avg emit NULL there, counts 0
  * — native window semantics, encoded in the output nullability.
  *
  * Aggregate kinds, value typing, widening and result nullability are
  * shared with GlobalScan ([[ScanKind.output]]): sums/avgs run on Long,
  * extrema fold any orderable type, counts never touch the value.
  */
case class FrameSpec(kind: ScanKind, lo: Int, hi: Int, ansi: Boolean)
  extends Serializable {
  require(lo <= hi, s"frame bounds out of order: [$lo, $hi]")
  /** The frame covers the current row — it can never be empty. */
  def coversCurrent: Boolean = lo <= 0 && 0 <= hi
}

// Output typing: [[ScanKind.output]]. Constructor field, not a body val:
// copy()/transform preserve the exprIds.
object GlobalFramePlan {
  def apply(order: Seq[SortOrder], specs: Seq[FrameSpec],
            values: Seq[Attribute], child: LogicalPlan): GlobalFramePlan = {
    require(specs.nonEmpty, "GlobalFramePlan needs at least one spec")
    require(specs.length == values.length,
      "one value column per spec (a placeholder for count(*))")
    GlobalFramePlan(order, specs, values, child, specs.zip(values).map {
      case (sp, value) =>
        ScanKind.output("frame", sp.kind, value, !sp.coversCurrent)
    })
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
    // pass 2 holds at most `width` rows: an emission at stream index e
    // evicts below its smallest frame start (>= e - before) and runs
    // `delay` = after pushes behind the newest, plus the one push before
    // the next emission
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
      // boundary; a local row emits once the stream is `delay` pushes
      // past it (pending queue), so its widest frame is fully pushed.
      val valueProj = UnsafeProjection.create(bounds)
      val frames = new SlidingFrames(kinds, ansis, dts, 0)
      var emitIdx = -1L // stream index of the most recent emission

      def push(vrow: UnsafeRow): Unit = {
        frames.push(vrow)
        assert(frames.buffered <= width,
          s"frame buffer holds ${frames.buffered} rows, over $width")
      }

      def emit(row: InternalRow): UnsafeRow = {
        emitIdx += 1L
        var i = 0
        while (i < nSpecs) {
          // the frame truncated to what exists; empty when the end falls
          // below the start (frames not covering the current row, at the
          // corpus edges)
          frames.advance(i, math.min(frames.pushed, emitIdx + his(i) + 1L),
            math.max(0L, emitIdx + los(i)))
          frames.read(i, out)
          i += 1
        }
        frames.evict()
        out(row)
      }

      boundary.foreach(push)
      emitIdx = frames.pushed - 1L // emissions start at the first LOCAL index
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
    * partition on the driver (and a bounded buffer + pending queue per
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
