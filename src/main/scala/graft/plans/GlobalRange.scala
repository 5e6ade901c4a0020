package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Cast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** GLOBAL VALUE-RANGE FRAME — `agg(x) OVER (ORDER BY k RANGE BETWEEN lo
  * AND hi)` for bounded VALUE offsets over a numeric ORDER BY (trailing
  * `x PRECEDING .. CURRENT ROW`, centered, lookahead, detached), with NO
  * PARTITION BY and NO single-partition stage: the value-distance member
  * of the two-pass family (GlobalFrame is its row-distance sibling).
  *
  * A RANGE frame's row membership is decided by KEY ARITHMETIC, not row
  * position: row t's frame is every row whose key lies in
  * [t + lo, t + hi] — including FOLLOWING peers when hi >= 0 (the SQL
  * `CURRENT ROW` upper bound in range mode means "last peer"). After
  * range partitioning, that neighborhood is either local or lies within
  * value distance max(|lo|, |hi|) of a partition's edge KEY. In the
  * [[GlobalExec]] protocol:
  *
  *   - pass 1 captures, per partition, the HEAD rows with
  *     key <= firstKey + max(hi) and the TAIL rows with
  *     key >= lastKey + min(lo) — the only rows any other partition can
  *     need. Both are capped at [[GlobalRange.MaxBoundary]] narrow rows
  *     (a neighborhood wider than that means the range spans a plateau
  *     the size of a partition — the operator throws loudly rather than
  *     shipping it);
  *   - the driver splices, per partition, the exact preceding rows with
  *     key >= firstKey(p) + min(lo) and following rows with
  *     key <= lastKey(p) + max(hi), walking across partitions that
  *     qualify WHOLE (GlobalFrame's row splice, re-keyed by value);
  *   - pass 2 streams preceding ++ local ++ following narrow (key,
  *     value) rows through [[SlidingFrames]]; a local row is emitted once
  *     a pushed key exceeds t + max(hi) (sorted input: its widest frame
  *     is then complete). The frame ends move by key: per spec, the end
  *     passes every pushed row with key <= t + hi, and the start every
  *     row with key < t + lo.
  *
  * Task memory is the frame's own working set (the rows within [lo, hi]
  * of the current key) — the buffering WindowExec does per frame, but
  * over a partition's slice instead of one task holding the whole
  * corpus.
  *
  * Scope (the rule keeps WindowExec otherwise): single ASCENDING
  * integral OR timestamp ORDER key; integral literal bounds for the
  * former, day-time/calendar interval bounds (normalized to micros; no
  * month components — a month is not a fixed number of micros) for the
  * latter. NULL keys follow the SQL
  * range semantics the native window implements: null-key rows are peers
  * of each other and their frame is exactly their peer group (offset
  * arithmetic over null is null, which bounds the frame to the group),
  * while non-null frames never contain null-key rows. Nulls sort FIRST
  * under the ascending order, so the null group is a stream prefix; it
  * splices across partitions like any other plateau (and like any
  * plateau, one wider than [[GlobalRange.MaxBoundary]] throws loudly).
  * Descending orders invert the offset arithmetic; flip the sign in the
  * query instead.
  *
  * Reference analogue: none (the reference has no windows); engine
  * extension completing the GlobalScan/Frame family for value frames.
  */
case class RangeSpec(kind: ScanKind, lo: Long, hi: Long, ansi: Boolean)
  extends Serializable {
  require(lo <= hi, s"range bounds out of order: [$lo, $hi]")
  /** The frame always contains the current row itself. */
  def coversCurrent: Boolean = lo <= 0L && 0L <= hi
}

// Output typing: [[ScanKind.output]] (a frame not covering the current
// row is empty at the corpus edges and in sparse key regions).
object GlobalRangePlan {
  def apply(order: Seq[SortOrder], key: Attribute, specs: Seq[RangeSpec],
            values: Seq[Attribute], child: LogicalPlan): GlobalRangePlan = {
    require(specs.nonEmpty, "GlobalRangePlan needs at least one spec")
    require(specs.length == values.length,
      "one value column per spec (a placeholder for count(*))")
    GlobalRangePlan(order, key, specs, values, child, specs.zip(values).map {
      case (sp, value) =>
        ScanKind.output("range", sp.kind, value, !sp.coversCurrent)
    })
  }
}

case class GlobalRangePlan(order: Seq[SortOrder], key: Attribute,
    specs: Seq[RangeSpec], values: Seq[Attribute], child: LogicalPlan,
    rangeAttrs: Seq[AttributeReference])
  extends GlobalNode {
  override def added: Seq[Attribute] = rangeAttrs
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalRangeExec(order, key, specs, values, rangeAttrs, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalRangePlan = copy(child = newChild)
}

case class GlobalRangeExec(order: Seq[SortOrder], key: Attribute,
    specs: Seq[RangeSpec], values: Seq[Attribute],
    rangeAttrs: Seq[Attribute], child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = rangeAttrs

  import GlobalRangeExec.{Partial, satAdd}

  override protected def doExecute(): RDD[InternalRow] = {
    val nSpecs = specs.length
    val keyOrd = child.output.indexWhere(_.exprId == key.exprId)
    require(keyOrd >= 0, s"order key $key not in child output")
    val ords = values.map(v =>
      child.output.indexWhere(_.exprId == v.exprId)).toArray
    values.zip(ords).foreach { case (v, o) =>
      require(o >= 0, s"value column $v not in child output") }
    val dts = values.map(_.dataType).toArray
    // narrow row layout: field 0 = key upcast to Long, field i+1 =
    // spec i's value (count(*)'s placeholder included — never read, but
    // a uniform layout keeps field index == spec index + 1 everywhere)
    // Timestamps are ALREADY physical long micros — keep them un-cast
    // (Cast(ts, long) evaluates to SECONDS, which would silently scale
    // the frame bounds 10^6 wide); narrower integrals upcast to Long.
    val keyRef = BoundReference(keyOrd, key.dataType,
      nullable = key.nullable)
    val keyExpr: org.apache.spark.sql.catalyst.expressions.Expression =
      key.dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => keyRef
        case LongType => keyRef
        case _ => Cast(keyRef, LongType)
      }
    val bounds = keyExpr +: ords.indices.map(i =>
      BoundReference(ords(i), dts(i), nullable = values(i).nullable))
    val kinds = specs.map(_.kind).toArray
    val los = specs.map(_.lo).toArray
    val his = specs.map(_.hi).toArray
    val ansis = specs.map(_.ansi).toArray
    val minLo = los.min
    val maxHi = his.max
    val cap = GlobalRange.MaxBoundary

    def blowUp(side: String): Nothing =
      throw new IllegalStateException(
        s"GlobalRange boundary blow-up: more than $cap rows lie " +
          s"within frame reach of a partition's $side edge — the " +
          "range spans a partition-sized plateau; use a partitioned " +
          "window or a narrower range")

    // pass 1: per partition, its row count, edge keys, and the head/tail
    // rows within the frame reach of its edges — narrow rows only.
    // Null keys sort FIRST: a partition's null rows are a leading run;
    // a partition whose LAST key is null is entirely null. A capture
    // over the cap ships as null; the driver throws only if a neighbor
    // needs it (the first partition's head and the last one's tail serve
    // nobody, so a plateau at the corpus edge never throws).
    twoPass { (_, it) =>
      val proj = UnsafeProjection.create(bounds)
      var count = 0L
      var firstKey = 0L; var lastKey = 0L
      var firstNull = false; var lastNull = false
      var head = new scala.collection.mutable.ArrayBuffer[UnsafeRow]()
      var headOpen = true
      val tail = new scala.collection.mutable.ArrayDeque[UnsafeRow]()
      var inNullPrefix = true
      var nullsOver = false // the null prefix alone passed the cap
      it.foreach { row =>
        val r = proj(row).copy()
        val kNull = r.isNullAt(0)
        val k = if (kNull) 0L else r.getLong(0)
        if (count == 0L) { firstKey = k; firstNull = kNull }
        lastKey = k; lastNull = kNull
        count += 1L
        // head: rows any EARLIER partition could need. If this partition
        // starts with nulls, earlier partitions are entirely null and
        // need the leading null run (their peers); otherwise the usual
        // rows within maxHi of our first key. The head is a prefix
        // capture (no eviction), so its cap check is final.
        if (headOpen) {
          val qualifies =
            if (firstNull) kNull
            else !kNull && maxHi >= 0L && k <= satAdd(firstKey, maxHi)
          if (!qualifies) headOpen = false
          else if (head.length < cap) head += r
          else { head = null; headOpen = false }
        }
        // tail: rows any LATER partition could need. Null rows are
        // buffered while the global null prefix may continue past us
        // (needed as peers by later all-null partitions); the buffer is
        // discarded wholesale at the first non-null key — from there no
        // later partition can hold nulls, and the usual within-|minLo|
        // eviction applies. Past the null prefix the cap applies to the
        // FINAL tail only: a mid-partition plateau that later evicts is
        // pass-2-sized transient working memory, not a boundary.
        if (kNull) {
          if (!nullsOver) tail.append(r)
          if (tail.length > cap) { tail.clear(); nullsOver = true }
        } else {
          if (inNullPrefix) {
            tail.clear(); inNullPrefix = false; nullsOver = false
          }
          if (minLo <= 0L) {
            while (tail.nonEmpty &&
              tail.head.getLong(0) < satAdd(k, minLo)) tail.removeHead()
            tail.append(r)
          }
        }
      }
      Partial(count, firstKey, lastKey, firstNull, lastNull,
        if (head == null) null else head.toArray,
        if (nullsOver || tail.length > cap) null else tail.toArray)
    } { partials =>
      // driver: per partition p, the exact preceding rows with
      // key >= firstKey(p) + minLo and following rows with
      // key <= lastKey(p) + maxHi, walked across whole-qualifying
      // partitions (empty partitions are transparent). A partition
      // touching the global null prefix additionally splices the null
      // PEER GROUP across partitions (cap-checked like any plateau).
      def headOf(q: Partial) = if (q.head == null) blowUp("first") else q.head
      def tailOf(q: Partial) = if (q.tail == null) blowUp("last") else q.tail
      def spliceBlowUp(): Nothing =
        throw new IllegalStateException(
          s"GlobalRange boundary blow-up: a spliced boundary exceeds " +
            s"$cap rows — the range (or the null peer group) spans a " +
            "partition-sized plateau; use a partitioned window or a " +
            "narrower range")
      partials.indices.map { p =>
        val me = partials(p)
        if (me.count == 0L) (Array.empty[UnsafeRow], Array.empty[UnsafeRow])
        else {
          val acc = new scala.collection.mutable.ArrayDeque[UnsafeRow]()
          if (me.firstNull) {
            // this partition starts inside the global null prefix: every
            // earlier non-empty partition is entirely null, and its rows
            // are this partition's null rows' PEERS — splice them all
            var q = p - 1
            while (q >= 0) {
              val pq = partials(q)
              if (pq.count > 0L) {
                val t = tailOf(pq)
                var j = t.length - 1
                while (j >= 0) { acc.prepend(t(j)); j -= 1 }
                if (acc.length > cap) spliceBlowUp()
              }
              q -= 1
            }
            // (no non-null preceding need: this partition's non-null rows,
            // if any, have every preceding non-null row locally)
          } else {
            val needLo = satAdd(me.firstKey, minLo)
            var q = p - 1
            var walk = minLo <= 0L
            while (walk && q >= 0) {
              val pq = partials(q)
              if (pq.count == 0L) q -= 1 // transparent
              else {
                // qualifying suffix of q's (sorted) tail capture — null
                // tail rows (all-null partitions) never qualify for a
                // non-null need, which also stops the walk below them
                val t = tailOf(pq)
                var i = t.length - 1
                while (i >= 0 && !t(i).isNullAt(0) &&
                  t(i).getLong(0) >= needLo) i -= 1
                var j = t.length - 1
                while (j > i) { acc.prepend(t(j)); j -= 1 }
                // walk on only if q qualified WHOLE (capture covers the
                // partition and every captured row was in range)
                walk = (t.length - 1 - i).toLong == pq.count
                q -= 1
              }
            }
          }
          val fcc = new scala.collection.mutable.ArrayBuffer[UnsafeRow]()
          if (me.lastNull) {
            // entirely-null partition: later partitions' leading null
            // runs are this partition's rows' peers
            var q = p + 1
            var walk = true
            while (walk && q < partials.length) {
              val pq = partials(q)
              if (pq.count == 0L) q += 1
              else {
                val h = headOf(pq)
                var i = 0
                while (i < h.length && h(i).isNullAt(0)) {
                  fcc += h(i); i += 1
                }
                if (fcc.length > cap) spliceBlowUp()
                // continue only while the next partition is null WHOLE
                walk = pq.lastNull && i.toLong == pq.count
                q += 1
              }
            }
          } else {
            val needHi = satAdd(me.lastKey, maxHi)
            var q = p + 1
            var walk = maxHi >= 0L
            while (walk && q < partials.length) {
              val pq = partials(q)
              if (pq.count == 0L) q += 1
              else {
                val h = headOf(pq)
                var i = 0
                while (i < h.length && !h(i).isNullAt(0) &&
                  h(i).getLong(0) <= needHi) {
                  fcc += h(i); i += 1
                }
                walk = i.toLong == pq.count
                q += 1
              }
            }
          }
          (acc.toArray, fcc.toArray)
        }
      }.toArray
    } { case ((pre, post), it, out) =>
      // one streaming pass per partition
      val valueProj = UnsafeProjection.create(bounds)

      val frames = new SlidingFrames(kinds, ansis, dts, 1)

      def emit(full: InternalRow, t: Long, tNull: Boolean): UnsafeRow = {
        var i = 0
        while (i < nSpecs) {
          val loK = satAdd(t, los(i))
          val hiK = satAdd(t, his(i))
          // END: past every pushed row whose key is within the frame's
          // upper bound. A NULL current key frames exactly its peer
          // group — the stream's null prefix (SQL range semantics: null
          // +- offset is null). For a non-null key, null stream rows
          // (ordered first) satisfy the <= bound, but the start always
          // passes them again below (null < any loK), so they never
          // contribute.
          var end = frames.end(i)
          while (end < frames.pushed && {
            val e = frames.get(end)
            if (tNull) e.isNullAt(0)
            else e.isNullAt(0) || e.getLong(0) <= hiK
          }) end += 1L
          // START: past every row whose key fell below loK (null keys
          // count as below every non-null bound; a null current key
          // moves no start — its peer-group frame only grows)
          var start = frames.start(i)
          while (!tNull && start < end && {
            val d = frames.get(start)
            d.isNullAt(0) || d.getLong(0) < loK
          }) start += 1L
          frames.advance(i, end, start)
          frames.read(i, out)
          i += 1
        }
        frames.evict()
        out(full)
      }

      pre.foreach(frames.push)
      // local rows pending emission until their widest frame is
      // complete: a non-null key waits for a pushed key past t + maxHi;
      // a null key waits for the first NON-null push (the null peer
      // group is then complete). The persisted iterator yields distinct
      // row objects, so holding them is safe.
      val pending = new scala.collection.mutable
        .ArrayDeque[(InternalRow, Long, Boolean)]()
      def drainReady(k: Long, kNull: Boolean): Iterator[UnsafeRow] = {
        var outRows = List.empty[UnsafeRow]
        var go = true
        while (go && pending.nonEmpty) {
          val (row, t, tNull) = pending.head
          val ready =
            if (tNull) !kNull
            else !kNull && satAdd(t, maxHi) < k
          if (ready) {
            pending.removeHead()
            // this drain is EAGER (a whole tie group can release at
            // once) and the projection reuses its output buffer — copy,
            // or every row of the batch aliases the last emission
            outRows ::= emit(row, t, tNull).copy()
          }
          else go = false
        }
        outRows.reverseIterator
      }
      val main = it.flatMap { row =>
        val vrow = valueProj(row).copy()
        val tNull = vrow.isNullAt(0)
        val t = if (tNull) 0L else vrow.getLong(0)
        val ready = drainReady(t, tNull)
        frames.push(vrow)
        pending.append((row, t, tNull))
        ready
      }
      // Iterator.++'s operand is by-name: the tail below only runs after
      // `main` is exhausted.
      main ++ {
        val drained = post.iterator.flatMap { vrow =>
          val kNull = vrow.isNullAt(0)
          val ready = drainReady(if (kNull) 0L else vrow.getLong(0), kNull)
          frames.push(vrow)
          ready
        }
        drained ++ pending.iterator.map { case (row, t, tNull) =>
          emit(row, t, tNull) }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalRangeExec = copy(child = newChild)
}

object GlobalRangeExec {
  /** Per-partition pass-1 summary: row count, edge keys (meaningless
    * when count == 0), and the head/tail narrow-row captures (null when
    * the capture exceeds [[GlobalRange.MaxBoundary]]). */
  private[plans] case class Partial(count: Long, firstKey: Long,
      lastKey: Long, firstNull: Boolean, lastNull: Boolean,
      head: Array[UnsafeRow], tail: Array[UnsafeRow])

  /** Saturating add: frame-bound arithmetic must not wrap at the Long
    * edges (the bounds only feed comparisons). */
  private[plans] def satAdd(a: Long, b: Long): Long = {
    val r = a + b
    if (b > 0 && r < a) Long.MaxValue
    else if (b < 0 && r > a) Long.MinValue
    else r
  }
}

object GlobalRange {
  /** Per-partition, per-side cap on the boundary rows shipped to the
    * driver. A neighborhood wider than this means the range covers a
    * partition-sized key plateau — no longer "a bounded neighborhood of
    * the partition edge"; the operator throws loudly instead of
    * shipping the partition. */
  val MaxBoundary = 4096
}
