package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** DISTRIBUTED PREFIX SCAN: `running = agg(value) over rows <= current` in
  * a total order, with NO single-partition stage — [[GlobalRankPlan]]'s
  * two-pass mechanism generalized from `count` to the prefix aggregates
  * (sum / count / count(*) / min / max / avg).
  *
  * `agg(x) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` — the sweep-line
  * primitive behind concurrency counting, running balances, high-water
  * marks, and watermark accounting — plans in Spark as a single-partition
  * WindowExec, the same non-scalable shape as global row_number. Here,
  * in the [[GlobalExec]] protocol, pass 1 computes each partition's
  * LOCAL partial (sum, non-null count, row count, min, max — a few longs
  * per partition), the driver folds them into each partition's exclusive
  * prefix, and pass 2 emits `running = combine(exclusivePartitionPrefix,
  * localPrefix)` — addition for sum/count, min/max fold for the extrema,
  * exact-integer division at emit for avg.
  *
  * One node computes ALL the aggregates of a window (a [[ScanSpec]] per
  * expression): a `sum + count + avg` dashboard window costs ONE persist
  * and ONE pair of passes, not one per aggregate — the per-spec state is
  * a few scalars each, so the marginal aggregate is near-free. At 100 TB
  * that is the difference between caching the input once and k times.
  *
  * Sum/avg value columns must be LongType (the sweep deltas of the use
  * cases above; floating-point prefix sums would be order-sensitive in
  * the last ulp and break cross-engine parity anyway — avg divides the
  * EXACT long sum by the exact count at emit, so even its doubles are
  * order-insensitive). Min/max accept ANY orderable type: a running
  * extremum only compares, never adds, so doubles, strings, timestamps,
  * decimals — the high-water-mark / watermark shapes — fold through the
  * same partials with an interpreted ordering and value copies instead
  * of long arithmetic (LongType extrema keep the primitive fast path).
  *
  * Both frames of the running shape are supported, per spec. ROWS
  * UNBOUNDED PRECEDING emits per row from the live accumulators. The
  * default RANGE frame (`agg(x) OVER (ORDER BY ...)` with no frame
  * clause — the most common user spelling) gives every PEER (order-tie)
  * the tie group's total, and a peer group may SPAN partition boundaries
  * (OrderedDistribution does not co-locate equal keys): pass 1 then also
  * ships each partition's first/last row and its LEADING tie-run's own
  * partials, the driver chains a per-partition "trailing-group
  * completion" delta (the later-partition peers of the partition's last
  * group — [[GlobalTiesExec]]'s boundary-chain idea applied to
  * aggregates), and pass 2 buffers one peer group at a time, emitting
  * the group-end value (+ the delta for the partition's last group).
  * Memory: the largest peer group per task — the same buffer WindowExec
  * keeps for a RANGE frame, but distributed instead of all rows in one
  * task. ROWS specs sharing the window with RANGE specs record their
  * per-row values during group accumulation, so mixing frames costs
  * nothing extra.
  *
  * Overflow parity with the WindowExec this replaces, per kind:
  * sum — ANSI raises on Long overflow, legacy wraps (native does the
  * same). avg — native accumulates in Double and NEVER overflows (either
  * eval mode), so avg here must not raise or wrap either: it carries a
  * parallel Double sum and switches to it (sticky, per prefix) the moment
  * the exact long sum overflows. In-range prefixes keep the exact
  * long-sum/count division (cross-engine-reproducible); post-overflow
  * prefixes degrade to native's approximately-correct double semantics
  * instead of ANSI exceptions or wildly-wrong wrapped longs. */
sealed abstract class ScanKind(val sql: String)
object ScanKind {
  /** running sum of the value column (null until first non-null) */
  case object Sum extends ScanKind("sum")
  /** running count of NON-NULL values (never null, 0 until first) */
  case object Count extends ScanKind("count")
  /** running count of ALL rows — `count(*)` (never null) */
  case object Rows extends ScanKind("count(*)")
  case object Min extends ScanKind("min")
  case object Max extends ScanKind("max")
  /** running exact-sum / exact-count as double (null until first) */
  case object Avg extends ScanKind("avg")

  /** The appended column of an aggregate of `kind` over `value`, typed
    * and nullable as the window aggregate it replaces: counts are
    * non-null longs; avg is a double; sum is a long; min/max keep the
    * value's type. Sum, avg, min and max are NULL until the first
    * non-null value, and also when the frame `maybeEmpty` (a frame that
    * does not cover the current row is empty at the corpus edges). A
    * non-null schema over a NULL-emitting exec would let the optimizer
    * fold `x IS NULL` to false. Sum and avg run on Long: the rule widens
    * integral inputs below the plan. */
  def output(name: String, kind: ScanKind, value: Attribute,
             maybeEmpty: Boolean): AttributeReference = {
    if (kind == Sum || kind == Avg)
      require(value.dataType == LongType,
        s"${kind.sql} needs a LongType value column, got " +
          s"${value.dataType} (the rule widens integral inputs)")
    val nullable = value.nullable || maybeEmpty
    val (dt, nl) = kind match {
      case Count | Rows => (LongType: DataType, false)
      case Avg => (DoubleType, nullable)
      case Min | Max => (value.dataType, nullable)
      case Sum => (LongType, nullable)
    }
    AttributeReference(name, dt, nl)()
  }
}

/** A min or max over any orderable type: the value type's interpreted
  * ordering and the spec's direction. Built where it is used, in a task
  * or on the driver (the ordering need not be serializable). */
private[plans] final class Extremum(dt: DataType, isMin: Boolean) {
  private val ord = TypeUtils.getInterpretedOrdering(dt)
  private def cmp(v: Any, cur: Any): Int =
    if (isMin) ord.compare(cur, v) else ord.compare(v, cur)
  /** `v` is strictly better than `cur`; null (no value yet) is beaten by
    * anything. */
  def beats(v: Any, cur: Any): Boolean = cur == null || cmp(v, cur) > 0
  /** `v` is as good as or better than `cur`. */
  def ties(v: Any, cur: Any): Boolean = cmp(v, cur) >= 0
  /** The fold of two partial extrema: `b` replaces `a` only when
    * strictly better; null is the identity. */
  def pick(a: Any, b: Any): Any = if (b != null && beats(b, a)) b else a
}

private[plans] object Extremum {
  /** One per min/max spec, null for the other kinds. */
  def perSpec(kinds: Array[ScanKind], dts: Array[DataType])
  : Array[Extremum] = Array.tabulate(kinds.length)(i =>
    if (kinds(i) == ScanKind.Min || kinds(i) == ScanKind.Max)
      new Extremum(dts(i), kinds(i) == ScanKind.Min)
    else null)
}

/** One aggregate computed by the scan: its kind, whether sum overflow
  * raises (ANSI) or wraps, and its frame (RANGE: peers share the
  * tie-group total; ROWS: each row its own prefix). The input column
  * lives in the plan node's parallel `values` seq — NOT here: Catalyst
  * only traverses Expression-typed constructor fields for
  * references/rewrites, so an Attribute buried in a non-Expression spec
  * would be invisible to column pruning and exprId rewriting.
  * Serializable — specs ride into task closures. */
case class ScanSpec(kind: ScanKind, ansi: Boolean, range: Boolean)
  extends Serializable

// A prefix always holds the current row, so a running column is
// nullable exactly when its value column is ([[ScanKind.output]]).
// Constructor field, not a body val: copy()/transform preserve the
// exprIds; only genuinely fresh constructions mint them.
object GlobalScanPlan {
  def apply(order: Seq[SortOrder], specs: Seq[ScanSpec],
            values: Seq[Attribute], child: LogicalPlan): GlobalScanPlan = {
    require(specs.nonEmpty, "GlobalScanPlan needs at least one spec")
    require(specs.length == values.length,
      "one value column per spec (a placeholder for count(*))")
    GlobalScanPlan(order, specs, values, child, specs.zip(values).map {
      case (sp, value) => ScanKind.output("running", sp.kind, value, false)
    })
  }

  /** Single-aggregate convenience (the [[GlobalScan.runningSum]] entry
    * point and tests). */
  def apply(order: Seq[SortOrder], value: Attribute, child: LogicalPlan,
            ansi: Boolean, kind: ScanKind = ScanKind.Sum,
            range: Boolean = false): GlobalScanPlan =
    apply(order, Seq(ScanSpec(kind, ansi, range)), Seq(value), child)
}

// `values` is a first-class Seq[Attribute] field (not folded into the
// specs) so the planner's expression traversal sees it: column pruning
// keeps the inputs alive and transformExpressions rewrites their exprIds.
case class GlobalScanPlan(order: Seq[SortOrder], specs: Seq[ScanSpec],
    values: Seq[Attribute], child: LogicalPlan,
    scanAttrs: Seq[AttributeReference])
  extends GlobalNode {
  override def added: Seq[Attribute] = scanAttrs
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalScanExec(order, specs, values, scanAttrs, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalScanPlan = copy(child = newChild)
}

case class GlobalScanExec(order: Seq[SortOrder], specs: Seq[ScanSpec],
                          values: Seq[Attribute], scanAttrs: Seq[Attribute],
                          child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = scanAttrs

  import GlobalScanExec.{ScanPartial, ScanState}

  override protected def doExecute(): RDD[InternalRow] = {
    val k = specs.length
    val ords = values.map(v =>
      child.output.indexWhere(_.exprId == v.exprId)).toArray
    values.zip(ords).foreach { case (v, o) =>
      require(o >= 0, s"value column $v not in child output") }
    val nullables = values.map(_.nullable).toArray
    val dts = values.map(_.dataType).toArray
    val bounds = ords.zip(dts.zip(nullables)).map { case (o, (dt, nl)) =>
      BoundReference(o, dt, nullable = nl) }
    val kinds = specs.map(_.kind).toArray
    // per-spec evaluation gates. Count only null-checks the value; Rows
    // never touches it (the spec carries a dummy attribute there).
    // Evaluating a dummy would be a type error, so the eval is gated,
    // not just unused.
    val needSum = kinds.map(kd => kd == ScanKind.Sum || kd == ScanKind.Avg)
    // a non-Long extremum folds boxed values under an interpreted
    // ordering (the generic path); Long extrema and all sums/avgs stay on
    // the primitive long path
    val generics = Array.tabulate(k)(i =>
      (kinds(i) == ScanKind.Min || kinds(i) == ScanKind.Max) &&
        dts(i) != LongType)
    val needEval = Array.tabulate(k)(i => !generics(i) &&
      (kinds(i) == ScanKind.Sum || kinds(i) == ScanKind.Avg ||
        kinds(i) == ScanKind.Min || kinds(i) == ScanKind.Max))
    val countsValue = kinds.map(_ != ScanKind.Rows)
    val isAvg = kinds.map(_ == ScanKind.Avg)
    val exacts = specs.map(sp =>
      sp.ansi && sp.kind == ScanKind.Sum).toArray
    val ranges = specs.map(_.range).toArray
    val anyRange = ranges.exists(identity)
    val anyRows = ranges.exists(!_)
    val orderLocal = order
    val childOutput = child.output
    // pass 1: per-partition partials (per spec: sum, non-null count, min,
    // max, double-sum, overflow flag; shared: row count) — a few scalars
    // per partition cross the driver. The non-null count carries SQL null
    // semantics: a running sum/min/max/avg is NULL until the first
    // non-null value anywhere before the current row.
    // Overflow, per kind: sum under ANSI raises via Math.addExact (native
    // window sum raises too), sum under legacy wraps (native wraps). Avg
    // NEVER raises in either mode — native accumulates avg in Double — so
    // its exact long sum is tried under a catch: on overflow the partition
    // freezes its long partial and reports ovf=true, and the double sum
    // carries on. Pass 1 accumulates each partition in isolation, so a
    // partition whose LOCAL sum overflows marks (sum) raises / (avg)
    // degrades even if a negative offset from earlier partitions would
    // have kept every global prefix in range — an over-approximation,
    // reachable only with totals adversarially close to Long.MaxValue.
    // When any spec is RANGE, the partial additionally records the
    // partition's first/last row (copies — the persisted input is copied)
    // and the LEADING tie-run's own partials, so the driver can complete
    // a peer group spanning partition boundaries without seeing any
    // interior row.
    twoPass { (_, it) =>
      val cmp = if (anyRange) RowOrdering.create(orderLocal, childOutput)
        else null
      val ext = Extremum.perSpec(kinds, dts)
      val s = new Array[Long](k); val c = new Array[Long](k)
      var r = 0L
      val mn = Array.fill(k)(Long.MaxValue)
      val mx = Array.fill(k)(Long.MinValue)
      val gext = new Array[Any](k)
      val d = new Array[Double](k)
      val ovf = new Array[Boolean](k)
      var first: InternalRow = null; var prev: InternalRow = null
      var leading = true; var leadEq = 0L
      val ls = new Array[Long](k); val lc = new Array[Long](k)
      val lmn = Array.fill(k)(Long.MaxValue)
      val lmx = Array.fill(k)(Long.MinValue)
      val lgext = new Array[Any](k)
      val ld = new Array[Double](k)
      val lovf = new Array[Boolean](k)
      it.foreach { row =>
        if (anyRange) {
          // leading iff the row ties the partition's FIRST row (ties are
          // transitive under compare == 0, so first-vs-row == prev-vs-row)
          if (first == null) first = row
          else if (leading && cmp.compare(first, row) != 0) leading = false
          prev = row
          if (leading) leadEq += 1L
        }
        r += 1L
        var i = 0
        while (i < k) {
          if (countsValue(i) &&
              (!nullables(i) || !row.isNullAt(ords(i)))) {
            c(i) += 1L
            if (anyRange && leading) lc(i) += 1L
            if (generics(i)) {
              // boxed extremum fold; copies detach the value from the
              // (already-copied, persisted) row so partials survive the
              // collect
              val v = bounds(i).eval(row)
              if (ext(i).beats(v, gext(i)))
                gext(i) = InternalRow.copyValue(v)
              if (anyRange && leading && ext(i).beats(v, lgext(i)))
                lgext(i) = InternalRow.copyValue(v)
            } else if (needEval(i)) {
              val v = bounds(i).eval(row).asInstanceOf[Long]
              if (needSum(i)) {
                if (isAvg(i)) {
                  d(i) += v
                  if (!ovf(i)) {
                    try s(i) = Math.addExact(s(i), v)
                    catch { case _: ArithmeticException => ovf(i) = true }
                  }
                } else s(i) =
                  if (exacts(i)) Math.addExact(s(i), v) else s(i) + v
              }
              if (v < mn(i)) mn(i) = v
              if (v > mx(i)) mx(i) = v
              if (anyRange && leading) {
                if (needSum(i)) {
                  if (isAvg(i)) {
                    ld(i) += v
                    if (!lovf(i)) {
                      try ls(i) = Math.addExact(ls(i), v)
                      catch { case _: ArithmeticException => lovf(i) = true }
                    }
                  } else ls(i) =
                    if (exacts(i)) Math.addExact(ls(i), v) else ls(i) + v
                }
                if (v < lmn(i)) lmn(i) = v
                if (v > lmx(i)) lmx(i) = v
              }
            }
          }
          i += 1
        }
      }
      ScanPartial(s, c, r, mn, mx, d, ovf,
        first, prev, leadEq, ls, lc, lmn, lmx, ld, lovf, gext, lgext)
    } { partials =>
      val nP = partials.length
      // per-spec exclusive offsets. avg: exact long offsets while every
      // earlier partial is exact and the combine itself stays in range;
      // from the first overflow on, only the double offsets are meaningful
      // (exOk marks the switch). extrema offsets fold with identity
      // elements; validity is carried by cntOff (an offset min/max is
      // meaningful iff some non-null value exists in an earlier partition).
      val sumOff = new Array[Array[Long]](k)
      val cntOff = new Array[Array[Long]](k)
      val minOff = new Array[Array[Long]](k)
      val maxOff = new Array[Array[Long]](k)
      val gextOff = new Array[Array[Any]](k)
      val dblOff = new Array[Array[Double]](k)
      val exOk = new Array[Array[Boolean]](k)
      val ext = Extremum.perSpec(kinds, dts)
      var si = 0
      while (si < k) {
        if (isAvg(si)) {
          val (so, dlo, ok) = GlobalScan.combineAvgOffsets(
            partials.map(_.sums(si)), partials.map(_.dsums(si)),
            partials.map(_.ovfs(si)))
          sumOff(si) = so; dblOff(si) = dlo; exOk(si) = ok
        } else {
          sumOff(si) =
            if (needSum(si))
              GlobalScan.combineOffsets(partials.map(_.sums(si)), exacts(si))
            else Array.fill(nP + 1)(0L)
          dblOff(si) = Array.fill(nP + 1)(0.0)
          exOk(si) = Array.fill(nP + 1)(true)
        }
        cntOff(si) = partials.map(_.cnts(si)).scanLeft(0L)(_ + _)
        minOff(si) = partials.map(_.mns(si)).scanLeft(Long.MaxValue)(Math.min)
        maxOff(si) = partials.map(_.mxs(si)).scanLeft(Long.MinValue)(Math.max)
        gextOff(si) =
          if (generics(si))
            partials.map(_.gexts(si)).scanLeft(null: Any)(ext(si).pick)
          else Array.fill[Any](nP + 1)(null)
        si += 1
      }
      val rowOff = partials.map(_.rows).scanLeft(0L)(_ + _)
      // RANGE: per-partition trailing-group completion — the chained
      // leading-run partials of LATER partitions whose rows tie this
      // partition's last row ([[GlobalTiesExec]]'s boundary chain, applied
      // to aggregates). O(numPartitions) driver work on a few rows. The
      // delta's exact long sums fold under the same overflow contract as
      // the offsets: ANSI sum raises (the native frame containing those
      // peers would raise too — same over-approximation as pass 1), legacy
      // wraps, avg degrades to its double sum. The chain walk is shared
      // across specs (it depends only on the order's tie structure).
      val deltas = Array.fill(nP)(ScanState.empty(k))
      if (anyRange) {
        val cmp = RowOrdering.create(orderLocal, childOutput)
        var p = 0
        while (p < nP) {
          val pp = partials(p)
          if (pp.rows > 0L) {
            val dl = ScanState.empty(k)
            var rD = 0L
            var q = p + 1; var chained = true
            while (chained && q < nP) {
              val pq = partials(q)
              if (pq.rows == 0L) q += 1 // empty partitions are transparent
              else if (cmp.compare(pp.last, pq.first) == 0) {
                rD += pq.leadEq
                var i = 0
                while (i < k) {
                  dl.cnts(i) += pq.lcnts(i); dl.ds(i) += pq.lds(i)
                  if (pq.lmns(i) < dl.mns(i)) dl.mns(i) = pq.lmns(i)
                  if (pq.lmxs(i) > dl.mxs(i)) dl.mxs(i) = pq.lmxs(i)
                  if (generics(i))
                    dl.gexts(i) = ext(i).pick(dl.gexts(i), pq.lgexts(i))
                  if (isAvg(i)) {
                    if (dl.exacts(i) && !pq.lovfs(i)) {
                      try dl.sums(i) = Math.addExact(dl.sums(i), pq.lsums(i))
                      catch {
                        case _: ArithmeticException => dl.exacts(i) = false
                      }
                    } else dl.exacts(i) = false
                  } else dl.sums(i) =
                    if (exacts(i)) Math.addExact(dl.sums(i), pq.lsums(i))
                    else dl.sums(i) + pq.lsums(i)
                  i += 1
                }
                // the chain continues past q only if ALL of q is one group
                chained = pq.leadEq == pq.rows
                q += 1
              } else chained = false
            }
            deltas(p) = dl.copy(rows = rD)
          }
          p += 1
        }
      }
      // carry: each partition's exclusive prefix and its trailing-group
      // completion delta
      Array.tabulate(nP)(p => (ScanState(Array.tabulate(k)(sumOff(_)(p)),
        Array.tabulate(k)(cntOff(_)(p)), rowOff(p),
        Array.tabulate(k)(minOff(_)(p)), Array.tabulate(k)(maxOff(_)(p)),
        Array.tabulate(k)(dblOff(_)(p)), Array.tabulate(k)(exOk(_)(p)),
        Array.tabulate[Any](k)(gextOff(_)(p))), deltas(p)))
    } { case ((off, delta), it, out) =>
      // running = combine(exclusive partition prefix, local inclusive
      // prefix); the accumulators start as copies of the prefix (the
      // broadcast carry is shared by the executor's tasks)
      val acc = off.sums.clone()
      val cnt = off.cnts.clone()
      var rows = off.rows
      val mn = off.mns.clone()
      val mx = off.mxs.clone()
      val gacc = off.gexts.clone()
      val ext = Extremum.perSpec(kinds, dts)
      val dacc = off.ds.clone()
      val exactOk = off.exacts.clone()
      def accumulate(row: InternalRow): Unit = {
        rows += 1L
        var i = 0
        while (i < k) {
          if (countsValue(i) &&
              (!nullables(i) || !row.isNullAt(ords(i)))) {
            cnt(i) += 1L
            if (generics(i)) {
              val v = bounds(i).eval(row)
              if (ext(i).beats(v, gacc(i)))
                gacc(i) = InternalRow.copyValue(v)
            } else if (needEval(i)) {
              val v = bounds(i).eval(row).asInstanceOf[Long]
              if (needSum(i)) {
                if (isAvg(i)) {
                  dacc(i) += v
                  // sticky per prefix: once any prefix overflows Long,
                  // this and every later prefix emit from the double sum
                  // (native Average's accumulator semantics); earlier
                  // prefixes already went out exact
                  if (exactOk(i)) {
                    try acc(i) = Math.addExact(acc(i), v)
                    catch { case _: ArithmeticException => exactOk(i) = false }
                  }
                } else acc(i) =
                  if (exacts(i)) Math.addExact(acc(i), v) else acc(i) + v
              }
              if (v < mn(i)) mn(i) = v
              if (v > mx(i)) mx(i) = v
            }
          }
          i += 1
        }
      }
      // spec i's value at the CURRENT accumulator state; `del` non-null
      // folds in a partition-final completion delta (RANGE last group
      // only). null result = SQL NULL. avg: exact long sum / exact count,
      // divided at emit — the double is a function of the prefix CONTENT,
      // not its evaluation order; post-overflow the double sum takes over.
      def valueAt(i: Int, del: ScanState): Any = {
        val hasD = del != null
        kinds(i) match {
          case ScanKind.Rows =>
            rows + (if (hasD) del.rows else 0L)
          case ScanKind.Count =>
            cnt(i) + (if (hasD) del.cnts(i) else 0L)
          case _ =>
            val tc = cnt(i) + (if (hasD) del.cnts(i) else 0L)
            if (tc == 0L) null
            else kinds(i) match {
              case ScanKind.Sum =>
                if (!hasD) acc(i)
                else if (exacts(i)) Math.addExact(acc(i), del.sums(i))
                else acc(i) + del.sums(i)
              case ScanKind.Min | ScanKind.Max if generics(i) =>
                if (hasD) ext(i).pick(gacc(i), del.gexts(i)) else gacc(i)
              case ScanKind.Min =>
                if (hasD) Math.min(mn(i), del.mns(i)) else mn(i)
              case ScanKind.Max =>
                if (hasD) Math.max(mx(i), del.mxs(i)) else mx(i)
              case ScanKind.Avg =>
                val dT = dacc(i) + (if (hasD) del.ds(i) else 0.0)
                if (exactOk(i) && (!hasD || del.exacts(i))) {
                  try {
                    (if (hasD) Math.addExact(acc(i), del.sums(i))
                     else acc(i)).toDouble / tc
                  } catch { case _: ArithmeticException => dT / tc }
                } else dT / tc
              case other =>
                throw new IllegalStateException(s"unreachable: $other")
            }
        }
      }
      if (!anyRange) it.map { row =>
        accumulate(row)
        var i = 0
        while (i < k) { out.update(i, valueAt(i, null)); i += 1 }
        out(row)
      } else {
        // RANGE: buffer one peer group at a time (row references into the
        // persisted, copied input — safe to hold), emit each RANGE spec's
        // group-end value to every peer; the partition's LAST group folds
        // in the driver-chained completion delta (identity when its last
        // row has no later-partition peers). ROWS specs sharing the
        // window record their per-row values during group accumulation.
        // Memory: the largest peer group.
        val cmp2 = RowOrdering.create(orderLocal, childOutput)
        val peers = it.buffered
        val group = new scala.collection.mutable.ArrayBuffer[InternalRow]
        val rowVals = new scala.collection.mutable.ArrayBuffer[Array[Any]]
        val groupVals = new Array[Any](k)
        var gi = 0
        new Iterator[InternalRow] {
          override def hasNext: Boolean =
            gi < group.length || peers.hasNext
          override def next(): InternalRow = {
            if (gi >= group.length) {
              group.clear(); rowVals.clear(); gi = 0
              val head = peers.next(); group += head
              while (peers.hasNext &&
                  cmp2.compare(head, peers.head) == 0)
                group += peers.next()
              var j = 0
              while (j < group.length) {
                accumulate(group(j))
                val rv = if (anyRows) new Array[Any](k) else null
                if (anyRows) {
                  var i = 0
                  while (i < k) {
                    if (!ranges(i)) rv(i) = valueAt(i, null)
                    i += 1
                  }
                }
                rowVals += rv
                j += 1
              }
              val del = if (peers.hasNext) null else delta
              var i = 0
              while (i < k) {
                if (ranges(i)) groupVals(i) = valueAt(i, del)
                i += 1
              }
            }
            val row = group(gi); val rv = rowVals(gi); gi += 1
            var i = 0
            while (i < k) {
              out.update(i, if (ranges(i)) groupVals(i) else rv(i))
              i += 1
            }
            out(row)
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalScanExec = copy(child = newChild)
}

object GlobalScanExec {
  /** Per-partition pass-1 summary; arrays indexed by spec. The base
    * fields cover the whole partition; `first`/`last` are row COPIES
    * (null on an empty partition) and the `l*` fields are the LEADING
    * tie-run's own partials — only meaningful when some spec is RANGE,
    * identity otherwise. */
  private[plans] case class ScanPartial(sums: Array[Long],
      cnts: Array[Long], rows: Long, mns: Array[Long], mxs: Array[Long],
      dsums: Array[Double], ovfs: Array[Boolean],
      first: InternalRow, last: InternalRow, leadEq: Long,
      lsums: Array[Long], lcnts: Array[Long], lmns: Array[Long],
      lmxs: Array[Long], lds: Array[Double], lovfs: Array[Boolean],
      gexts: Array[Any], lgexts: Array[Any])

  /** Per-spec partials folded across partitions, arrays indexed by spec
    * (`rows` is shared — the tie structure is the order's, not a
    * spec's). A partition's carry holds two: its exclusive prefix over
    * the earlier partitions, and its trailing peer group's completion
    * (the folded leading-run partials of later partitions tying its last
    * row). `exacts(i)` false means spec i's long sum overflowed and avg
    * must emit from the double `ds(i)`. */
  private[plans] case class ScanState(sums: Array[Long],
      cnts: Array[Long], rows: Long, mns: Array[Long], mxs: Array[Long],
      ds: Array[Double], exacts: Array[Boolean], gexts: Array[Any])
  private[plans] object ScanState {
    def empty(k: Int): ScanState = ScanState(new Array[Long](k),
      new Array[Long](k), 0L, Array.fill(k)(Long.MaxValue),
      Array.fill(k)(Long.MinValue), new Array[Double](k),
      Array.fill(k)(true), new Array[Any](k))
  }
}

object GlobalScan {

  /** Exclusive prefix over per-partition sums. The driver-side combine
    * carries the same overflow contract as the per-partition sums: under
    * ANSI an overflow that lands exactly on a partition boundary must
    * raise, not wrap — otherwise every row after the boundary would get a
    * silently wrong running value while the WindowExec this replaces
    * raises. */
  private[graft] def combineOffsets(sums: Array[Long],
                                    ansi: Boolean): Array[Long] =
    sums.scanLeft(0L)((a, b) => if (ansi) Math.addExact(a, b) else a + b)

  /** Avg's offset combine: exclusive prefixes of the exact long sums, the
    * double sums, and a per-partition "exact start" validity. Exactness is
    * sticky-false from the first partition whose local sum overflowed OR
    * whose combine step overflows: from there the long offsets are
    * meaningless and pass 2 emits from the double offsets — avg must
    * never raise or wrap (the native window Average it replaces
    * accumulates in Double and cannot overflow in either eval mode). */
  private[graft] def combineAvgOffsets(sums: Array[Long],
      dsums: Array[Double], ovfs: Array[Boolean])
  : (Array[Long], Array[Double], Array[Boolean]) = {
    val n = sums.length
    val so = new Array[Long](n + 1)
    val dlo = new Array[Double](n + 1)
    val ok = new Array[Boolean](n + 1)
    ok(0) = true
    var s = 0L; var d = 0.0; var valid = true
    var i = 0
    while (i < n) {
      d += dsums(i)
      if (valid && !ovfs(i)) {
        try s = Math.addExact(s, sums(i))
        catch { case _: ArithmeticException => valid = false }
      } else valid = false
      so(i + 1) = s; dlo(i + 1) = d; ok(i + 1) = valid
      i += 1
    }
    (so, dlo, ok)
  }

  /** df + `running` column: prefix sum of LongType column `valueCol` under
    * the total order given by `keys` ((name, descending) pairs) — the
    * scale-out replacement for
    * `sum(value).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * currentRow))`. */
  def runningSum(df: DataFrame, valueCol: String,
                 keys: (String, Boolean)*): DataFrame = {
    val plan = SessionHooks.analyzed(df)
    val value = SessionHooks.attr(plan, valueCol)
    require(value.dataType == LongType,
      s"runningSum needs a LongType value column, got ${value.dataType}")
    // Overflow semantics must match what the equivalent SQL window would
    // do on THIS session: ANSI raises, legacy wraps. Hardcoding either
    // would make the two entry points to the same operator disagree.
    SessionHooks.ofRows(df,
      GlobalScanPlan(SessionHooks.resolveOrder(plan, keys), value, plan,
        ansi = df.sparkSession.sessionState.conf.ansiEnabled))
  }
}
