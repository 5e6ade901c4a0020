package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute => CAttr, Cast, Expression, IntegerLiteral, NamedExpression, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.types.LongType

/** MIXED-FAMILY GLOBAL WINDOW — one un-partitioned `OVER (ORDER BY ...)`
  * projecting functions from SEVERAL two-pass families at once (e.g.
  * `rank() + sum() + lag() + first_value() + a moving average`), with no
  * single-partition stage.
  *
  * The analyzer puts every window expression sharing one
  * (partitionSpec, orderSpec) into ONE `Window` node — frames differ per
  * expression. Each family rule (GlobalRank/Ties/Shift/Edge) fires only
  * on single-expression windows, and GlobalScan/GlobalFrame only on
  * all-aggregate ones, so a mixed window used to fall through to the one
  * shape that cannot scale: a single-partition WindowExec computing all
  * of them. This rule composes the EXISTING logical operators instead:
  *
  *   - prefix aggregates fuse into one [[GlobalScanPlan]] (bottom),
  *   - bounded ROWS frames fuse into one [[GlobalFramePlan]],
  *   - bounded value-RANGE frames fuse into one [[GlobalRangePlan]],
  *   - the whole rank family (row_number / rank / dense_rank /
  *     percent_rank / ntile) fuses into ONE multi-kind
  *     [[GlobalTiesPlan]] — the partials are identical per kind, so
  *     three rank functions cost one persist + one pass-pair,
  *   - respect-nulls null-default `lag(v, n)` / `lead(v, n)` are
  *     EXACTLY the 1-row detached frame `min(v) OVER (ROWS BETWEEN n
  *     PRECEDING/FOLLOWING AND n PRECEDING/FOLLOWING)` (same value,
  *     null, and corpus-edge semantics), so they ride the fused frame
  *     node too instead of stacking one operator per offset,
  *   - each remaining offset variant (non-null default, ignore-nulls
  *     lag) / edge function stacks its own 1:1 node
  *     ([[GlobalShiftPlan]] / [[GlobalEdgePlan]]) above them,
  *   - REVERSED-order members — `cume_dist` (its tie group's END is
  *     only visible scanning backwards, see [[TieKind.CumeDist]]) and
  *     ignore-nulls `lead` (a bounded backward ring under the reversed
  *     order, where the forward pending queue is unbounded) — stack
  *     LAST, sharing ONE reversed range sort above the whole forward
  *     stack.
  *
  * Every operator in a sub-stack requires `OrderedDistribution` of its
  * sort, preserves its child's partitioning AND emits that sort as its
  * `outputOrdering`, so EnsureRequirements plans exactly ONE range
  * exchange + sort under the forward stack — the same shared-sort
  * discipline the GlobalFrame-on-GlobalScan stack already pins in CI —
  * plus (only when reversed members exist) ONE more under the reversed
  * sub-stack. That second pass is the price of the reversed families; it
  * replaces the single-partition WindowExec the combined shape used to
  * keep, and it is a full-parallelism exchange, not a 1-task sort. Each
  * operator adds its own pair of passes over its (persisted) input; the
  * driver state stays the sum of the members' bounded partials.
  *
  * All-or-nothing: if ANY expression is outside the eight families, the
  * whole window keeps WindowExec; rewriting a subset would leave a
  * single-partition Window for the rest. LIMIT-bounded inputs keep
  * WindowExec (provably tiny at any scale, same escape as the family
  * rules). Shapes a single fused rule already owns whole — all-prefix
  * (GlobalScanRule), row-frame + prefix (GlobalFrameRule), all-value-
  * range (GlobalRangeRule), single-expression windows (the family
  * rules) — are NOT this rule's territory; it fires only on windows
  * spanning a non-aggregate member, or a value-range aggregate next to
  * prefix / row-frame ones.
  */
object GlobalWindowRule
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{CumeDist, CurrentRow,
    DenseRank, Lag, Lead, NTile, NthValue, PercentRank, Rank, RangeFrame,
    RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, Last}

  private object NullLit {
    def unapply(e: Expression): Boolean = e match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal =>
        l.value == null
      case _ => false
    }
  }
  private def orderable(v: CAttr): Boolean =
    org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(v.dataType)

  private sealed trait Member
  private case class MRank(alias: Alias) extends Member
  private case class MTies(alias: Alias, kind: TieKind) extends Member
  private case class MShift(alias: Alias, v: CAttr, offset: Int,
      default: Expression, ignoreNulls: Boolean) extends Member
  private case class MEdge(alias: Alias,
      parsed: Either[CAttr, (EdgeKind, CAttr)], range: Boolean)
    extends Member
  // reversed-order members (signed offset already negated for the
  // reversed-lag encoding, mirroring GlobalShiftRule)
  private case class MRevTies(alias: Alias) extends Member
  private case class MRevShift(alias: Alias, v: CAttr, offset: Int,
      default: Expression) extends Member
  private case class MScan(p: GlobalScanRule.Parsed) extends Member
  private case class MFrame(p: GlobalFrameRule.FParsed) extends Member
  private case class MRange(p: GlobalRangeRule.RParsed) extends Member

  /** One window expression parsed into its family, with the order its
    * member will sort by. The scan/frame parsers run first (they carry
    * the strictest frame matches); the remaining matches mirror the
    * single-expression family rules exactly — incl. their caps
    * ([[GlobalShift.MaxOffset]], [[GlobalEdge.MaxN]]). `cume_dist` and
    * ignore-nulls `lead` parse into the REVERSED-order members
    * ([[MRevTies]]/[[MRevShift]]) that stack over their own shared
    * reversed sort. */
  private def parseMember(e: NamedExpression, child: LogicalPlan)
  : Option[(Member, Seq[SortOrder])] =
    GlobalScanRule.parse(e, child).map(p => (MScan(p): Member, p.order))
      .orElse(GlobalFrameRule.parseFrame(e, child)
        .map(p => (MFrame(p): Member, p.order)))
      .orElse(GlobalRangeRule.parseRange(e, child)
        .map(p => (MRange(p): Member, p.order)))
      .orElse(e match {
        case a @ Alias(WindowExpression(fn,
              WindowSpecDefinition(Seq(), order, frame)), _)
            if order.nonEmpty =>
          val m: Option[Member] = fn match {
            case RowNumber() => Some(MRank(a))
            case _: Rank => Some(MTies(a, TieKind.Rank))
            case _: DenseRank => Some(MTies(a, TieKind.DenseRank))
            case _: PercentRank => Some(MTies(a, TieKind.PercentRank))
            case NTile(IntegerLiteral(n)) if n > 0 =>
              Some(MTies(a, TieKind.NTile(n)))
            // respect-nulls lag/lead with a NULL default are 1-row
            // detached ROWS frames: min over [±n, ±n] returns that
            // row's value (or NULL when the row is null or absent) —
            // bit-identical to the offset function, and it fuses into
            // the frame node instead of stacking one operator per
            // offset. Non-null defaults do NOT convert: coalesce would
            // also replace an existing-but-null value.
            case Lag(v: CAttr, IntegerLiteral(off), NullLit(), false)
                if off > 0 && off <= GlobalFrame.MaxFrame &&
                  orderable(v) =>
              Some(MFrame(GlobalFrameRule.FParsed(a, order, -off, -off,
                ScanKind.Min, v, ansi = false, widen = false)))
            case Lead(v: CAttr, IntegerLiteral(off), NullLit(), false)
                if off > 0 && off <= GlobalFrame.MaxFrame &&
                  orderable(v) =>
              Some(MFrame(GlobalFrameRule.FParsed(a, order, off, off,
                ScanKind.Min, v, ansi = false, widen = false)))
            case Lag(v: CAttr, IntegerLiteral(off), d, ign)
                if off > 0 && off <= GlobalShift.MaxOffset && d.foldable =>
              Some(MShift(a, v, -off, d, ign))
            case Lead(v: CAttr, IntegerLiteral(off), d, false)
                if off > 0 && off <= GlobalShift.MaxOffset && d.foldable =>
              Some(MShift(a, v, off, d, false))
            // reversed-order members (same guards as their family rules):
            // ignore-nulls lead = ignore-nulls LAG under the reversed
            // order (GlobalShiftRule's encoding — the backward ring stays
            // O(n) where a forward pending queue is unbounded)
            case Lead(v: CAttr, IntegerLiteral(off), d, true)
                if off > 0 && off <= GlobalShift.MaxOffset && d.foldable =>
              Some(MRevShift(a, v, -off, d))
            case _: CumeDist => Some(MRevTies(a))
            case _ => frame match {
              case SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow)
                  if ft == RowFrame || ft == RangeFrame =>
                val range = ft == RangeFrame
                fn match {
                  case AggregateExpression(First(v: CAttr, ignoreNulls), _,
                      false, None, _) =>
                    Some(MEdge(a, Right((EdgeKind.At(1, ignoreNulls), v)),
                      range))
                  case AggregateExpression(Last(v: CAttr, false), _, false,
                      None, _) =>
                    // ROWS: the running frame ends at the current row —
                    // last_value IS the input column (plain projection)
                    if (range) Some(MEdge(a,
                      Right((EdgeKind.LastValue, v)), range))
                    else Some(MEdge(a, Left(v), range))
                  case AggregateExpression(Last(v: CAttr, true), _, false,
                      None, _) =>
                    Some(MEdge(a, Right((EdgeKind.LastNonNull, v)), range))
                  case NthValue(v: CAttr, IntegerLiteral(n), ignoreNulls)
                      if n > 0 && n <= GlobalEdge.MaxN =>
                    Some(MEdge(a, Right((EdgeKind.At(n, ignoreNulls), v)),
                      range))
                  case _ => None
                }
              case _ => None
            }
          }
          m.map((_, order))
        case _ => None
      })

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case w @ Window(exprs, Seq(), _, child, _) if exprs.length >= 2 &&
        !GlobalRankRule.isLimitBounded(child) =>
      val parsed = exprs.map(parseMember(_, child))
      val members = parsed.flatten.map(_._1)
      val orders = parsed.flatten.map(_._2).distinct
      // only mixed shapes: a shape some single rule already owns whole
      // (all-scan, frame+scan, all-range) keeps that rule's fused plan;
      // anything spanning further — a non-aggregate member, or a
      // value-range aggregate next to row-frame/prefix ones — is ours
      val hasOther = members.exists {
        case _: MRank | _: MTies | _: MShift | _: MEdge | _: MRevTies |
             _: MRevShift => true
        case _ => false
      }
      val hasRange = members.exists {
        case _: MRange => true
        case _ => false
      }
      val hasRowAgg = members.exists {
        case _: MScan | _: MFrame => true
        case _ => false
      }
      val mixed = hasOther || (hasRange && hasRowAgg)
      if (parsed.exists(_.isEmpty) || orders.size != 1 || !mixed) w
      else {
        val order = orders.head
        val scanPs = members.collect { case MScan(p) => p }
        val framePs = members.collect { case MFrame(p) => p }
        val rangePs = members.collect { case MRange(p) => p }
        // integral inputs of widen-marked aggregate specs upcast to Long
        // in ONE Project below everything (deduped by exprId across the
        // scan AND frame members — same discipline as GlobalFrameRule)
        val widenPairs =
          (scanPs.filter(_.widen).map(_.value) ++
            framePs.filter(_.widen).map(_.value) ++
            rangePs.filter(_.widen).map(_.value))
          .filter(_.dataType != LongType)
          .groupBy(_.exprId).map(_._2.head)
          .map(v => v.exprId ->
            Alias(Cast(v, LongType), v.name + "_gwl")())
          .toMap
        val inner: LogicalPlan =
          if (widenPairs.isEmpty) child
          else Project(child.output ++ widenPairs.values, child)
        def valOf(v: CAttr, widen: Boolean): CAttr =
          if (widen) widenPairs.get(v.exprId)
            .map(_.toAttribute: CAttr).getOrElse(v)
          else v
        // the stack grows bottom-up; each member's result attribute is
        // recorded as it is placed
        var cur: LogicalPlan = inner
        val scanAttrs: Seq[CAttr] =
          if (scanPs.isEmpty) Nil
          else {
            val g = GlobalScanPlan(order,
              scanPs.map(p => ScanSpec(p.kind, p.ansi, p.range)),
              scanPs.map(p => valOf(p.value, p.widen)), cur)
            cur = g
            g.scanAttrs
          }
        // the whole rank family fuses into one multi-kind ties node
        // (row_number rides as TieKind.RowNum — same partials)
        val tiesKinds = members.collect {
          case MRank(_) => TieKind.RowNum: TieKind
          case MTies(_, kind) => kind
        }
        val tiesAttrs: Seq[CAttr] =
          if (tiesKinds.isEmpty) Nil
          else {
            val g = GlobalTiesPlan(order, tiesKinds, cur)
            cur = g
            g.rankAttrs
          }
        val frameAttrs: Seq[CAttr] =
          if (framePs.isEmpty) Nil
          else {
            val g = GlobalFramePlan(order,
              framePs.map(p => FrameSpec(p.kind, p.lo, p.hi, p.ansi)),
              framePs.map(p => valOf(p.value, p.widen)), cur)
            cur = g
            g.frameAttrs
          }
        val rangeAttrs: Seq[CAttr] =
          if (rangePs.isEmpty) Nil
          else {
            val g = GlobalRangePlan(order, rangePs.head.key,
              rangePs.map(p => RangeSpec(p.kind, p.lo, p.hi, p.ansi)),
              rangePs.map(p => valOf(p.value, p.widen)), cur)
            cur = g
            g.rangeAttrs
          }
        // forward offset/edge nodes stack next (one 1:1 node each, in
        // member order), still sharing the forward sort — they MUST all
        // sit below the reversed sub-stack, or a forward node above a
        // reversed one would force a third sort back to the user's order
        val fwdShiftAttrs: Seq[CAttr] =
          members.collect { case m: MShift => m }.map { m =>
            val g = GlobalShiftPlan(order, m.v, m.offset, m.default, cur,
              ignoreNulls = m.ignoreNulls)
            cur = g
            g.shiftAttr
          }
        val fwdEdgeAttrs: Seq[CAttr] =
          members.collect { case MEdge(_, Right(kv), range) =>
            (kv, range)
          }.map { case ((kind, v), range) =>
            val g = GlobalEdgePlan(order, kind, range, v, cur)
            cur = g
            g.edgeAttr
          }
        // reversed members stack LAST over ONE shared reversed sort (a
        // second exchange — the price of the reversed families, replacing
        // the single-partition WindowExec this shape used to keep)
        lazy val revOrder = order.map(GlobalRankRule.reverseOrder)
        val revTiesKinds = members.collect {
          case _: MRevTies => TieKind.CumeDist: TieKind
        }
        val revTiesAttrs: Seq[CAttr] =
          if (revTiesKinds.isEmpty) Nil
          else {
            val g = GlobalTiesPlan(revOrder, revTiesKinds, cur)
            cur = g
            g.rankAttrs
          }
        val revShiftAttrs: Seq[CAttr] =
          members.collect { case m: MRevShift => m }.map { m =>
            val g = GlobalShiftPlan(revOrder, m.v, m.offset, m.default,
              cur, ignoreNulls = true)
            cur = g
            g.shiftAttr
          }
        // results in the original expression order, each narrowed back
        // to its alias type under the original exprId so downstream
        // references resolve unchanged (same idiom as the family rules)
        var si = -1; var fi = -1; var ri = -1; var ti = -1
        var shi = -1; var ei = -1; var rti = -1; var rsi = -1
        val results = members.map { m =>
          val (alias, raw) = m match {
            case MScan(p) => si += 1; (p.alias, scanAttrs(si): Expression)
            case MFrame(p) =>
              fi += 1; (p.alias, frameAttrs(fi): Expression)
            case MRange(p) =>
              ri += 1; (p.alias, rangeAttrs(ri): Expression)
            case MRank(a) =>
              ti += 1; (a, tiesAttrs(ti): Expression)
            case MTies(a, _) =>
              ti += 1; (a, tiesAttrs(ti): Expression)
            case MShift(a, _, _, _, _) =>
              shi += 1; (a, fwdShiftAttrs(shi): Expression)
            case MEdge(a, Left(v), _) => (a, v: Expression)
            case MEdge(a, Right(_), _) =>
              ei += 1; (a, fwdEdgeAttrs(ei): Expression)
            case MRevTies(a) =>
              rti += 1; (a, revTiesAttrs(rti): Expression)
            case MRevShift(a, _, _, _) =>
              rsi += 1; (a, revShiftAttrs(rsi): Expression)
          }
          val result =
            if (raw.dataType == alias.dataType) raw
            else Cast(raw, alias.dataType)
          Alias(result, alias.name)(exprId = alias.exprId,
            qualifier = alias.qualifier,
            explicitMetadata = alias.explicitMetadata)
        }
        Project(child.output ++ results, cur): LogicalPlan
      }
  }
}
