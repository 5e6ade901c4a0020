package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute => CAttr, Cast, CumeDist, CurrentRow, DenseRank, Descending, EqualTo, EvalMode, ExprId, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, Lag, Lead, LessThan, LessThanOrEqual, Literal, NTile, NamedExpression, NthValue, NullsFirst, NullsLast, NumericEvalContext, PercentRank, PredicateHelper, Rank, RangeFrame, RowFrame, RowNumber, RowOrdering, SortOrder, SpecifiedWindowFrame, UnaryMinus, UnboundedPreceding, WindowExpression, WindowFrame, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** THE GLOBAL WINDOW REWRITE — the one optimizer rule that turns an
  * un-partitioned `OVER (ORDER BY ...)` window, which Spark executes as a
  * single-partition WindowExec, into the distributed two-pass Global*
  * operators. It works in three steps.
  *
  * 1. PARSE every window expression once, into the operator family that
  *    computes it:
  *   - the rank family (row_number / rank / dense_rank / percent_rank /
  *     ntile, and cume_dist over the REVERSED order — its tie group's end
  *     is only visible scanning backwards, see [[TieKind.CumeDist]]);
  *   - plain aggregates the scan kinds run ([[scannable]]) over one of
  *     three frames: the running prefix (ROWS or the default RANGE
  *     UNBOUNDED PRECEDING .. CURRENT ROW, [[GlobalScanPlan]]), a bounded
  *     ROWS frame ([[GlobalFramePlan]], |lo|, |hi| <=
  *     [[GlobalFrame.MaxFrame]]) or a bounded value-RANGE frame over one
  *     ascending integral or timestamp key ([[GlobalRangePlan]]);
  *   - `lag` / `lead` with a foldable default ([[GlobalShiftPlan]],
  *     |n| <= [[GlobalShift.MaxOffset]]; ignore-nulls lead is
  *     ignore-nulls lag over the REVERSED order — the backward ring stays
  *     O(n) where a forward pending queue would hold an unbounded run of
  *     null-valued rows);
  *   - `first_value` / `last_value` / `nth_value` over the running frames
  *     ([[GlobalEdgePlan]]; ROWS-frame respect-nulls last_value is the
  *     input column itself, a plain projection).
  *
  * 2. GUARD. All-or-nothing: if ANY expression is outside these families
  *    the whole window keeps WindowExec — rewriting a subset would still
  *    leave a single-partition Window for the rest. A window over a
  *    LIMIT-bounded input keeps WindowExec ([[limitBounded]]), and so
  *    does a lone row_number / rank / dense_rank under a prunable top-k
  *    filter ([[rankLimitedWindow]]).
  *
  * 3. COMPOSE the family operators bottom-up over one shared sort: the
  *    prefix aggregates fuse into one scan node, the forward rank family
  *    into one multi-kind [[GlobalTiesPlan]] (the partials are identical
  *    per kind, so three rank functions cost one persist + one
  *    pass-pair), the ROWS frames into one frame node, the value-RANGE
  *    frames into one range node; each offset and edge function stacks
  *    its own 1:1 node above them; the REVERSED-order members (cume_dist,
  *    ignore-nulls lead) stack LAST over ONE shared reversed sort. In a
  *    window of several members, a respect-nulls NULL-default `lag(v, n)`
  *    / `lead(v, n)` is EXACTLY the 1-row detached frame `min(v) OVER
  *    (ROWS BETWEEN ±n AND ±n)` (same value, null and corpus-edge
  *    semantics), so it rides the fused frame node instead of stacking
  *    one operator per offset. Two lone members keep a lighter operator:
  *    row_number plans as [[GlobalRankPlan]] (no boundary rows in its
  *    partials) and lag/lead as [[GlobalShiftPlan]].
  *
  * Every node in a sub-stack keeps the [[GlobalExec]] contract (ordered
  * distribution of its sort required, that sort emitted, the child's
  * partitioning kept), so EnsureRequirements plans exactly ONE range
  * exchange + sort under the forward stack, plus (only when reversed
  * members exist) ONE more under the reversed sub-stack — a
  * full-parallelism exchange, not a 1-task sort. Integral inputs of the
  * long-domain aggregates are upcast in ONE Project below the stack, and
  * every result is narrowed back to its alias type under the original
  * exprId, so the output schema and downstream references are unchanged.
  *
  * Partitioned windows parallelize on their own and are never touched.
  */
object GlobalWindowRule extends Rule[LogicalPlan] {

  /** One window expression parsed into its operator family. */
  private sealed trait Member { def alias: Alias }
  /** the rank family; [[TieKind.CumeDist]] plans over the reversed order */
  private case class MTies(alias: Alias, kind: TieKind) extends Member
  /** `offset` is SIGNED (negative looks back); `reversed` marks
    * ignore-nulls lead, planned as ignore-nulls lag over the reversed
    * order */
  private case class MShift(alias: Alias, v: CAttr, offset: Int,
      default: Expression, ignoreNulls: Boolean, reversed: Boolean)
    extends Member
  /** Left: ROWS-frame last_value, the input column itself */
  private case class MEdge(alias: Alias,
      edge: Either[CAttr, (EdgeKind, CAttr)], range: Boolean) extends Member
  private case class MScan(alias: Alias, agg: Agg, range: Boolean)
    extends Member
  private case class MFrame(alias: Alias, agg: Agg, lo: Int, hi: Int)
    extends Member
  private case class MRange(alias: Alias, agg: Agg, key: CAttr, lo: Long,
      hi: Long) extends Member

  /** A rewritable aggregate: its kind, input column and overflow mode.
    * `widen` marks a long-domain value (sums/avgs and integral extrema)
    * the rewrite upcasts to Long below the stack; count and generic
    * extrema use the raw column — count only null-checks it, and a
    * generic extremum folds boxed values under the column's own ordering
    * (widening a non-numeric count column would EVALUATE a bogus cast
    * for every row). */
  private case class Agg(kind: ScanKind, value: CAttr, ansi: Boolean,
      widen: Boolean)

  /** Integral types narrower than Long (upcast without loss). */
  private[plans] def integral(dt: DataType): Boolean =
    dt == IntegerType || dt == ShortType || dt == ByteType

  /** The long-domain input: a LongType attribute, a narrower integral
    * attribute (widened below the stack), or the `Cast(integral -> long)`
    * the analyzer wraps around integral sum inputs — `sum(int_col)`
    * analyzes as `Sum(Cast(attr, LongType))`, the common case. The upcast
    * can neither null nor overflow, so value/null semantics are the
    * attribute's own. */
  private object LongValue {
    def unapply(e: Expression): Option[CAttr] = e match {
      case v: CAttr if v.dataType == LongType || integral(v.dataType) =>
        Some(v)
      case Cast(v: CAttr, LongType, _, _) if integral(v.dataType) => Some(v)
      case _ => None
    }
  }

  /** The aggregate kinds the frame operators run: sum / avg over the long
    * domain, count (any type — it only null-checks), count(*) (no column:
    * any child attribute serves as the never-evaluated placeholder), and
    * min / max over ANY orderable type — running high-water marks and
    * watermarks are not integer-only shapes. Null semantics match the
    * window aggregate: sum/min/max/avg are NULL until the first non-null
    * value, counts never. Overflow matches per eval mode: sum LEGACY
    * wraps, sum ANSI raises; avg never raises (native accumulates in
    * Double). try_sum / try_avg (NULL on overflow) have no per-row
    * running equivalent here and keep WindowExec. */
  private def scannable(agg: AggregateExpression, child: LogicalPlan)
  : Option[Agg] = agg.aggregateFunction match {
    case Sum(LongValue(v), ctx: NumericEvalContext)
        if ctx.evalMode != EvalMode.TRY =>
      Some(Agg(ScanKind.Sum, v, ctx.evalMode == EvalMode.ANSI, widen = true))
    case Count(Seq(v: CAttr)) => Some(Agg(ScanKind.Count, v, false, false))
    // count over the analyzer's integral upcast: the cast never nulls,
    // so counting its results == counting the attribute's non-nulls
    case Count(Seq(Cast(v: CAttr, LongType, _, _))) if integral(v.dataType) =>
      Some(Agg(ScanKind.Count, v, false, false))
    case Count(Seq(l: Literal)) if l.value != null =>
      child.output.headOption.map(Agg(ScanKind.Rows, _, false, false))
    case Min(LongValue(v)) => Some(Agg(ScanKind.Min, v, false, true))
    case Max(LongValue(v)) => Some(Agg(ScanKind.Max, v, false, true))
    case Min(v: CAttr) if RowOrdering.isOrderable(v.dataType) =>
      Some(Agg(ScanKind.Min, v, false, false))
    case Max(v: CAttr) if RowOrdering.isOrderable(v.dataType) =>
      Some(Agg(ScanKind.Max, v, false, false))
    case Average(LongValue(v), mode) if mode != EvalMode.TRY =>
      Some(Agg(ScanKind.Avg, v, mode == EvalMode.ANSI, widen = true))
    case _ => None
  }

  /** A bounded ROWS offset as Catalyst encodes it: CurrentRow (0), a
    * signed literal (DataFrame `rowsBetween(lo, hi)`, or SQL after
    * constant folding — negative = PRECEDING), or the parser's
    * still-unfolded `UnaryMinus(k)` for PRECEDING. */
  private object RowOffset {
    def unapply(e: Expression): Option[Int] = e match {
      case CurrentRow => Some(0)
      case IntegerLiteral(n) if n != Int.MinValue => Some(n)
      case UnaryMinus(IntegerLiteral(n), _) if n != Int.MinValue => Some(-n)
      case _ => None
    }
  }

  /** A bounded RANGE offset normalized to the key's LONG domain:
    * CurrentRow (0), an integral literal, a day-time interval literal
    * (physical micros — the boundary type Spark resolves for a timestamp
    * ORDER BY), or a calendar interval with no month component (a month
    * is not a fixed number of micros) — possibly under the parser's
    * unfolded UnaryMinus. [[GlobalHalfRangeRule]] reads its offsets with
    * it too. */
  private[plans] object RangeOffset {
    def unapply(e: Expression): Option[Long] = e match {
      case CurrentRow => Some(0L)
      case Literal(v: Long, LongType) if v != Long.MinValue => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Short, ShortType) => Some(v.toLong)
      case Literal(v: Byte, ByteType) => Some(v.toLong)
      case Literal(v: Long, _: org.apache.spark.sql.types
          .DayTimeIntervalType) if v != Long.MinValue => Some(v)
      case Literal(iv: org.apache.spark.unsafe.types.CalendarInterval, _)
          if iv.months == 0 =>
        Some(iv.days * 86400000000L + iv.microseconds)
      case UnaryMinus(RangeOffset(n), _) if n != Long.MinValue => Some(-n)
      case _ => None
    }
  }

  /** Value-range keys whose physical form is a long the frame arithmetic
    * runs on: integrals (upcast in the exec) and timestamps (micros —
    * interval offsets are micros too). Nullable keys are fine: the exec
    * implements the SQL null peer-group semantics. */
  private def rangeKey(a: CAttr): Boolean = integral(a.dataType) ||
    a.dataType == LongType || a.dataType == TimestampType ||
    a.dataType == TimestampNTZType

  /** A plain aggregate placed by its frame; None keeps WindowExec
    * (unbounded sides never parse as bounded offsets). */
  private def aggMember(a: Alias, agg: Agg, order: Seq[SortOrder],
                        frame: WindowFrame): Option[Member] = frame match {
    case SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow) =>
      Some(MScan(a, agg, ft == RangeFrame))
    case SpecifiedWindowFrame(RowFrame, RowOffset(lo), RowOffset(hi))
        if lo <= hi &&
          math.max(math.abs(lo), math.abs(hi)) <= GlobalFrame.MaxFrame =>
      Some(MFrame(a, agg, lo, hi))
    case SpecifiedWindowFrame(RangeFrame, RangeOffset(lo), RangeOffset(hi))
        if lo <= hi => order match {
      case Seq(SortOrder(key: CAttr, Ascending, _, _)) if rangeKey(key) =>
        Some(MRange(a, agg, key, lo, hi))
      case _ => None
    }
    case _ => None
  }

  /** A window function (not a scan-kind aggregate) parsed into its
    * family. Lag's case-class field is the POSITIVE user-facing offset
    * (its toString renders the derived negation, which is a trap); Lead's
    * is positive too — the signed offset is derived here. */
  private def fnMember(a: Alias, fn: Expression, frame: WindowFrame)
  : Option[Member] = fn match {
    case RowNumber() => Some(MTies(a, TieKind.RowNum))
    case _: Rank => Some(MTies(a, TieKind.Rank))
    case _: DenseRank => Some(MTies(a, TieKind.DenseRank))
    case _: PercentRank => Some(MTies(a, TieKind.PercentRank))
    case NTile(IntegerLiteral(n)) if n > 0 => Some(MTies(a, TieKind.NTile(n)))
    case _: CumeDist => Some(MTies(a, TieKind.CumeDist))
    case Lag(v: CAttr, IntegerLiteral(off), d, ign)
        if off > 0 && off <= GlobalShift.MaxOffset && d.foldable =>
      Some(MShift(a, v, -off, d, ign, reversed = false))
    case Lead(v: CAttr, IntegerLiteral(off), d, ign)
        if off > 0 && off <= GlobalShift.MaxOffset && d.foldable =>
      Some(MShift(a, v, if (ign) -off else off, d, ign, reversed = ign))
    case _ => frame match {
      case SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow) =>
        val range = ft == RangeFrame
        // first/last arrive wrapped in a plain (non-distinct, unfiltered)
        // AggregateExpression; nth_value is an AggregateWindowFunction
        // and arrives bare
        val edge: Option[Either[CAttr, (EdgeKind, CAttr)]] = fn match {
          case AggregateExpression(First(v: CAttr, ign), _, false, None, _) =>
            Some(Right((EdgeKind.At(1, ign), v)))
          case AggregateExpression(Last(v: CAttr, false), _, false, None,
              _) =>
            // ROWS: the frame ends at the current row — last_value IS
            // the input column; RANGE: the peer group's last value
            Some(if (range) Right((EdgeKind.LastValue, v)) else Left(v))
          case AggregateExpression(Last(v: CAttr, true), _, false, None, _) =>
            Some(Right((EdgeKind.LastNonNull, v)))
          case NthValue(v: CAttr, IntegerLiteral(n), ign)
              if n > 0 && n <= GlobalEdge.MaxN =>
            Some(Right((EdgeKind.At(n, ign), v)))
          case _ => None
        }
        edge.map(MEdge(a, _, range))
      case _ => None
    }
  }

  /** One window expression parsed once, with the order it sorts by. */
  private def parse(e: NamedExpression, child: LogicalPlan)
  : Option[(Member, Seq[SortOrder])] = e match {
    case a @ Alias(WindowExpression(fn,
          WindowSpecDefinition(Seq(), order, frame)), _) if order.nonEmpty =>
      val agg = fn match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          scannable(ae, child).flatMap(aggMember(a, _, order, frame))
        case _ => None
      }
      agg.orElse(fnMember(a, fn, frame)).map((_, order))
    case _ => None
  }

  /** A window whose input is already LIMIT-bounded (word_count's top-100
    * shape: `orderBy(...).limit(k)` then rank) is provably tiny at ANY
    * data scale — the bound is a static literal, not a function of the
    * input. There a single-partition WindowExec over <= k rows is
    * optimal; the two-pass operators' extra jobs + persist would be pure
    * overhead. Walks through the deterministic unary nodes the optimizer
    * may leave between the window and its limit. */
  @scala.annotation.tailrec
  private def limitBounded(p: LogicalPlan): Boolean = p match {
    case GlobalLimit(IntegerLiteral(n), _) => n <= BoundedLimit
    case Project(_, c) => limitBounded(c)
    case Filter(_, c) => limitBounded(c)
    case s: Sort => limitBounded(s.child)
    case _ => false
  }
  private val BoundedLimit = 100000L

  private object Limits extends PredicateHelper {
    /** Mirrors the condition shapes Spark's InferWindowGroupLimit can turn
      * into per-partition pruning: some conjunct comparing the BARE rank
      * attribute against an integer literal in the limiting direction.
      * `rank * 10 <= 20` is NOT such a shape — Spark cannot prune it, so
      * suppressing the rewrite for it would keep the single-partition
      * window AND get no pruning. */
    def isLimit(cond: Expression, rank: CAttr): Boolean =
      splitConjunctivePredicates(cond).exists {
        case LessThan(a: CAttr, IntegerLiteral(_)) => a.exprId == rank.exprId
        case LessThanOrEqual(a: CAttr, IntegerLiteral(_)) =>
          a.exprId == rank.exprId
        case EqualTo(a: CAttr, IntegerLiteral(_)) => a.exprId == rank.exprId
        case EqualTo(IntegerLiteral(_), a: CAttr) => a.exprId == rank.exprId
        case GreaterThan(IntegerLiteral(_), a: CAttr) =>
          a.exprId == rank.exprId
        case GreaterThanOrEqual(IntegerLiteral(_), a: CAttr) =>
          a.exprId == rank.exprId
        case _ => false
      }
  }

  /** Walk from a Filter down through any chain of Projects to the Window
    * (if one is there), substituting project aliases into the condition as
    * we descend: a filter on `pos` where `pos` is a pure rename of the
    * rank is still a prunable top-k. Returns the Window when the
    * translated condition is a limit on its rank attribute. */
  @scala.annotation.tailrec
  private def rankLimitedWindow(cond: Expression,
                                node: LogicalPlan): Option[Window] =
    node match {
      case p: Project =>
        val substituted = cond.transformUp {
          case a: CAttr =>
            p.projectList.collectFirst {
              case al: Alias if al.exprId == a.exprId => al.child
            }.getOrElse(a)
        }
        rankLimitedWindow(substituted, p.child)
      case w: Window if w.windowExpressions.size == 1 &&
          Limits.isLimit(cond, w.windowExpressions.head.toAttribute) =>
        Some(w)
      case _ => None
    }

  /** Full comparator inversion: direction AND null ordering flip, so
    * "strictly before, in the reversed order" is exactly "strictly
    * after, in the user's order" — including null groups. */
  private def reverseOrder(so: SortOrder): SortOrder =
    SortOrder(so.child,
      if (so.direction == Ascending) Descending else Ascending,
      if (so.nullOrdering == NullsFirst) NullsLast else NullsFirst,
      so.sameOrderExpressions)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // A Filter above that LIMITS a lone rank column (directly, or renamed
    // through intervening Projects) is a top-k query: Spark's
    // InferWindowGroupLimit turns it into per-partition top-k pruning (the
    // shuffle carries <= k rows per partition), which beats a full
    // two-pass rank over ALL rows when only k survive — leave those
    // windows alone. Filters Spark can't prune on (e.g. arithmetic over
    // the rank) don't suppress the rewrite, and neither does a filter over
    // any other member: InferWindowGroupLimit prunes only row_number,
    // rank and dense_rank.
    //
    // Keyed by the rank alias's exprId, NOT the Window node: two
    // structurally identical windows are case-class-equal, so a Set[Window]
    // would let the one under a limiting Filter suppress the rewrite of
    // its un-limited twin. ExprIds are unique per Alias, so they
    // distinguish the two nodes where structural equality cannot.
    lazy val rankLimited = plan.collect {
      case Filter(cond, child) => rankLimitedWindow(cond, child)
    }.flatten.map(_.windowExpressions.head.exprId).toSet
    plan transform {
      case w @ Window(exprs, Seq(), _, child, _)
          if exprs.nonEmpty && !limitBounded(child) =>
        val parsed = exprs.map(parse(_, child))
        val orders = parsed.flatten.map(_._2).distinct
        if (parsed.exists(_.isEmpty) || orders.size != 1) w
        else parsed.flatten.map(_._1) match {
          case Seq(MTies(a, TieKind.RowNum | TieKind.Rank | TieKind.DenseRank))
              if rankLimited.contains(a.exprId) => w
          case members => compose(members, orders.head, child)
        }
    }
  }

  /** The operator stack for a parsed window (see the rule doc). */
  private def compose(parsed: Seq[Member], order: Seq[SortOrder],
                      child: LogicalPlan): LogicalPlan = {
    val members =
      if (parsed.size == 1) parsed
      else parsed.map {
        case MShift(a, v, off, Literal(null, _), false, false)
            if math.abs(off) <= GlobalFrame.MaxFrame &&
              RowOrdering.isOrderable(v.dataType) =>
          MFrame(a, Agg(ScanKind.Min, v, ansi = false, widen = false), off,
            off)
        case m => m
      }
    val scans = members.collect { case m: MScan => m }
    val frames = members.collect { case m: MFrame => m }
    val ranges = members.collect { case m: MRange => m }
    // integral inputs of the long-domain aggregates upcast to Long in ONE
    // Project below everything, deduped by exprId (sum(x) and avg(x), or
    // a frame sum and a prefix sum of x, share one widened column); the
    // helper columns never escape the outer Project
    val widened =
      (scans.map(_.agg) ++ frames.map(_.agg) ++ ranges.map(_.agg))
        .filter(_.widen).map(_.value)
        .filter(_.dataType != LongType)
        .groupBy(_.exprId).map(_._2.head)
        .map(v => v.exprId -> Alias(Cast(v, LongType), v.name + "_gwl")())
        .toMap
    def valueOf(g: Agg): CAttr =
      if (g.widen) widened.get(g.value.exprId).map(_.toAttribute: CAttr)
        .getOrElse(g.value)
      else g.value

    // the stack grows bottom-up; each member's result is recorded as its
    // node is placed
    var cur: LogicalPlan =
      if (widened.isEmpty) child
      else Project(child.output ++ widened.values, child)
    val result = scala.collection.mutable.Map[ExprId, Expression]()
    def layer(ms: Seq[Member])(node: LogicalPlan => GlobalNode): Unit =
      if (ms.nonEmpty) {
        val g = node(cur)
        cur = g
        ms.zip(g.added).foreach { case (m, at) => result(m.alias.exprId) = at }
      }
    layer(scans)(c => GlobalScanPlan(order,
      scans.map(m => ScanSpec(m.agg.kind, m.agg.ansi, m.range)),
      scans.map(m => valueOf(m.agg)), c))
    val (revTies, ties) = members.collect { case m: MTies => m }
      .partition(_.kind == TieKind.CumeDist)
    layer(ties)(c =>
      if (members.size == 1 && ties.head.kind == TieKind.RowNum)
        GlobalRankPlan(order, c)
      else GlobalTiesPlan(order, ties.map(_.kind), c))
    layer(frames)(c => GlobalFramePlan(order,
      frames.map(m => FrameSpec(m.agg.kind, m.lo, m.hi, m.agg.ansi)),
      frames.map(m => valueOf(m.agg)), c))
    layer(ranges)(c => GlobalRangePlan(order, ranges.head.key,
      ranges.map(m => RangeSpec(m.agg.kind, m.lo, m.hi, m.agg.ansi)),
      ranges.map(m => valueOf(m.agg)), c))
    // forward offset/edge nodes stack next, still sharing the forward
    // sort — they MUST all sit below the reversed sub-stack, or a forward
    // node above a reversed one would force a third sort
    val (revShifts, shifts) = members.collect { case m: MShift => m }
      .partition(_.reversed)
    shifts.foreach(m => layer(Seq(m))(c =>
      GlobalShiftPlan(order, m.v, m.offset, m.default, c, m.ignoreNulls)))
    members.foreach {
      case m @ MEdge(_, Right((kind, v)), range) =>
        layer(Seq(m))(c => GlobalEdgePlan(order, kind, range, v, c))
      case MEdge(a, Left(v), _) => result(a.exprId) = v
      case _ =>
    }
    // reversed members stack LAST over ONE shared reversed sort
    lazy val revOrder = order.map(reverseOrder)
    layer(revTies)(c => GlobalTiesPlan(revOrder, revTies.map(_.kind), c))
    revShifts.foreach(m => layer(Seq(m))(c =>
      GlobalShiftPlan(revOrder, m.v, m.offset, m.default, c,
        ignoreNulls = true)))
    // results in the original expression order, each narrowed back to its
    // alias type under the original exprId
    val results = members.map { m =>
      val (a, raw) = (m.alias, result(m.alias.exprId))
      Alias(if (raw.dataType == a.dataType) raw else Cast(raw, a.dataType),
        a.name)(exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = a.explicitMetadata)
    }
    Project(child.output ++ results, cur)
  }
}
