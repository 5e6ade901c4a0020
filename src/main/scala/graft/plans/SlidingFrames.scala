package graft.plans

import scala.collection.mutable.ArrayDeque

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.DataType

/** Pass 2 of the bounded-frame execs ([[GlobalFrameExec]],
  * [[GlobalRangeExec]]): one stream buffer of narrow rows, addressed by
  * global stream index, and per spec the aggregate of a frame
  * `[start, end)` over it. The execs differ only in how a frame's ends
  * move (by stream index, or by key); both ends only move forward, so
  * `advance(i, end, start)` ENTERS every index below `end` and LEAVES
  * every index below `min(start, end)` — each index enters and leaves
  * each spec once — and `read` writes the frame's value. This is the
  * split of Spark's SlidingWindowFunctionFrame, which one aggregator
  * serves under a row-bound or a range-bound ordering.
  *
  * Per-row cost, per aggregate: count / count(*) / legacy sum are O(1)
  * amortized (enter/leave deltas; wrapping long arithmetic is a ring, so
  * subtract-on-leave is exact); min/max are amortized O(1) via monotonic
  * deques (a dominated candidate never resurfaces); ANSI sum and avg
  * re-fold the frame in order, O(frame) — ANSI sum must raise exactly
  * when the native window's in-order partial sum overflows, and avg must
  * reproduce native Average's in-frame-order Double accumulation
  * bit-for-bit (SlidingWindowFunctionFrame recomputes its buffer per
  * slide the same way).
  *
  * Spec i's value is field `i + off` of each narrow row. Built per task. */
private[plans] final class SlidingFrames(kinds: Array[ScanKind],
    ansis: Array[Boolean], dts: Array[DataType], off: Int) {
  private val buf = new ArrayDeque[UnsafeRow]()
  private var base = 0L // stream index of buf.head
  private var next = 0L // stream index of the next push

  private val n = kinds.length
  private val starts = new Array[Long](n)
  private val ends = new Array[Long](n)
  private val entered = new Array[Long](n) // indexes below have entered
  private val left = new Array[Long](n)    // indexes below have left
  private val cnt = new Array[Long](n)     // non-null values in frame
  private val wsum = new Array[Long](n)    // wrapping frame sum (legacy)
  private val incremental = Array.tabulate(n)(i =>
    kinds(i) == ScanKind.Count || (kinds(i) == ScanKind.Sum && !ansis(i)))
  private val ext = Extremum.perSpec(kinds, dts)
  // monotonic deques: (stream index, boxed value), indexes increasing
  // front to back, values strictly improving toward the front in the
  // spec's direction. A value is read at entry from its push's own row,
  // which the buffer never reuses.
  private val deques = Array.tabulate(n)(i =>
    if (ext(i) == null) null else new ArrayDeque[(Long, Any)]())

  def push(row: UnsafeRow): Unit = { buf.append(row); next += 1L }
  /** Stream index of the next push: the number of rows pushed so far. */
  def pushed: Long = next
  def get(gi: Long): UnsafeRow = buf((gi - base).toInt)
  /** Rows held: from the smallest frame start to the newest push. */
  def buffered: Int = buf.length
  def start(i: Int): Long = starts(i)
  def end(i: Int): Long = ends(i)

  /** Moves spec i's frame to `[start, end)`; neither end moves back. */
  def advance(i: Int, end: Long, start: Long): Unit = {
    starts(i) = start; ends(i) = end
    if (incremental(i) || ext(i) != null) {
      val f = i + off
      while (entered(i) < end) {
        val u = entered(i)
        val r = get(u)
        if (!r.isNullAt(f)) {
          if (incremental(i)) {
            cnt(i) += 1L
            if (kinds(i) == ScanKind.Sum) wsum(i) += r.getLong(f)
          } else {
            val v = r.get(f, dts(i))
            val dq = deques(i)
            // a back entry that `v` ties or beats is never the frame's
            // extremum again: `v` is newer and as good
            while (dq.nonEmpty && ext(i).ties(v, dq.last._2))
              dq.removeLast()
            dq.append((u, v))
          }
        }
        entered(i) = u + 1L
      }
      // only entered indexes leave: a frame that does not cover the
      // current row can start past the stream's end
      if (incremental(i)) while (left(i) < math.min(start, end)) {
        val r = get(left(i))
        if (!r.isNullAt(f)) {
          cnt(i) -= 1L
          if (kinds(i) == ScanKind.Sum) wsum(i) -= r.getLong(f)
        }
        left(i) += 1L
      }
    }
  }

  /** Writes spec i's value over its current frame into `out`. */
  def read(i: Int, out: AddedRow): Unit = {
    val s = starts(i); val e = ends(i); val f = i + off
    kinds(i) match {
      case ScanKind.Rows => out.setLong(i, math.max(0L, e - s))
      case ScanKind.Count => out.setLong(i, cnt(i))
      case ScanKind.Sum if !ansis(i) =>
        out.update(i, if (cnt(i) == 0L) null else wsum(i))
      case ScanKind.Sum => // ANSI: exact in-order re-fold
        var acc = 0L; var any = false
        var gi = s
        while (gi < e) {
          val r = get(gi)
          if (!r.isNullAt(f)) {
            acc = Math.addExact(acc, r.getLong(f)); any = true
          }
          gi += 1L
        }
        out.update(i, if (any) acc else null)
      case ScanKind.Avg => // in-frame-order Double accumulation
        var d = 0.0; var c = 0L
        var gi = s
        while (gi < e) {
          val r = get(gi)
          if (!r.isNullAt(f)) { d += r.getLong(f); c += 1L }
          gi += 1L
        }
        out.update(i, if (c > 0L) d / c else null)
      case _ => // Min | Max: expire, then read the front
        val dq = deques(i)
        while (dq.nonEmpty && dq.head._1 < s) dq.removeHead()
        out.update(i,
          if (dq.isEmpty || dq.head._1 >= e) null else dq.head._2)
    }
  }

  /** Drops the rows below every spec's frame start. Call once all specs
    * have read: no frame end moves back, so none is read again. */
  def evict(): Unit = {
    var lo = Long.MaxValue
    var i = 0
    while (i < n) { if (starts(i) < lo) lo = starts(i); i += 1 }
    while (base < lo && buf.nonEmpty) { buf.removeHead(); base += 1L }
  }
}
