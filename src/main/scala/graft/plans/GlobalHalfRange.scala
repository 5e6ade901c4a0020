package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
  Attribute, Coalesce, EqualTo, Expression, If, Literal, NamedExpression,
  RangeFrame, SortOrder, SpecifiedWindowFrame, Subtract,
  UnboundedPreceding, WindowExpression, WindowSpecDefinition, Add,
  CurrentRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.types.LongType

/** HALF-BOUNDED VALUE-RANGE FRAMES by ALGEBRAIC DECOMPOSITION —
  * `sum/count(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND
  * y PRECEDING/FOLLOWING)`, the "watermark-lagged total" shape, with NO
  * single-partition stage and NO new physical operator:
  *
  *   sum over (-inf, t+y]  =  sum over (-inf, t]  -/+  sum over the
  *                            bounded value gap between t+y and t
  *
  * For integral keys the gap is the INCLUSIVE bounded range frame
  * [y+1, 0] (y < 0) or [1, y] (y > 0) — frames GlobalRange already
  * distributes — and the running side is GlobalScan's peer-inclusive
  * RANGE prefix. This rule rewrites the half-bounded member into those
  * two members (plus their count(x) twins) inside the SAME Window node
  * and reassembles the original value in a Project above:
  *
  *   result = if (prefixCount -/+ gapCount == 0) null
  *            else coalesce(prefixSum, 0) -/+ coalesce(gapSum, 0)
  *
  * The count guard is what makes the subtraction NULL-faithful: an
  * empty (or all-null-input) half-bounded frame must yield NULL for sum
  * — `prefixSum - gapSum` alone would yield 0 whenever the two regions
  * cancel. count(*) needs no guard (empty frame counts 0).
  * [[GlobalWindowRule]] then fuses the four helper members onto ONE
  * shared range sort (GlobalScan multi-spec + GlobalRange multi-spec),
  * so the whole decomposition costs the same single exchange + sort as
  * any other global window here.
  *
  * Scope: Sum / Count / Count(*) over integral (long-domain) order-key
  * ATTRIBUTES, ascending; timestamps route through unix_micros.
  * Min/max are not invertible and keep their WindowExec (none of the
  * registry's shapes need them half-bounded). Nullable keys are
  * handled: SQL gives null-key rows their own peer-group frame under
  * any offset RANGE bound, and the running prefix member evaluates to
  * exactly that at null rows (nulls sort first), so the assembly
  * branches on IsNull(key) — verified against WindowExec, nulls
  * included, in GlobalHalfRangeSpec. ANSI caveat: the running prefix
  * can overflow where the half-bounded frame alone would not; under
  * ANSI that raises loudly (never a wrong answer), matching the
  * engine-wide overflow discipline. Decimal sums are NOT rewritten at
  * all: the long-domain Global* operators couldn't distribute the helper
  * members anyway, and under non-ANSI a decimal prefix overflow nulls
  * out (longs wrap exactly; decimals don't) and would assemble into a
  * silently wrong 0 — they keep their native WindowExec.
  */
object GlobalHalfRangeRule
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {

  // the window rule's offset parser; its interval forms never match here,
  // since an interval offset needs a timestamp key and parse admits only
  // integral keys
  import GlobalWindowRule.{RangeOffset, integral}

  /** (alias, order, key attribute, signed offset y != 0, the aggregate) */
  private case class Half(alias: Alias, order: Seq[SortOrder],
      key: Attribute, y: Long, agg: AggregateExpression)

  private def parse(e: NamedExpression): Option[Half] = e match {
    case a @ Alias(WindowExpression(agg: AggregateExpression,
          WindowSpecDefinition(Seq(), Seq(so),
            SpecifiedWindowFrame(RangeFrame, UnboundedPreceding,
              RangeOffset(y)))),
        _) if y != 0L && so.direction == Ascending &&
          so.child.isInstanceOf[Attribute] &&
          (so.child.dataType == LongType || integral(so.child.dataType)) &&
          !agg.isDistinct && agg.filter.isEmpty =>
      agg.aggregateFunction match {
        // decimal sums are excluded outright, for two independent
        // reasons: (1) the operators the helper members plan through
        // (GlobalScan / GlobalRange) are long-domain only, so the
        // decomposition would keep its single-partition WindowExec
        // anyway — all cost, no distribution win; (2) under non-ANSI
        // mode an overflowing running prefix returns NULL (decimals
        // null out where longs wrap, and the long wraparound cancels
        // exactly in the subtract/add), which Coalesce would silently
        // treat as 0 — a wrong non-null answer where the native
        // half-bounded frame may not even overflow.
        case s: Sum if s.dataType.isInstanceOf[
            org.apache.spark.sql.types.DecimalType] =>
          None
        case _: Sum | _: Count =>
          Some(Half(a, Seq(so), so.child.asInstanceOf[Attribute], y, agg))
        case _ => None
      }
    case _ => None
  }

  private def freshAgg(of: AggregateExpression,
      fn: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): AggregateExpression =
    AggregateExpression(fn, of.mode, isDistinct = false, None,
      org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case Window(exprs, Seq(), orderSpec, child, hint)
        if exprs.exists(parse(_).isDefined) =>
      val prefixFrame =
        SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)
      def gapFrame(y: Long) =
        if (y < 0L)
          SpecifiedWindowFrame(RangeFrame, Literal(y + 1L), Literal(0L))
        else SpecifiedWindowFrame(RangeFrame, Literal(1L), Literal(y))
      val keep = scala.collection.mutable.ArrayBuffer[NamedExpression]()
      val outer = scala.collection.mutable.ArrayBuffer[NamedExpression]()
      exprs.foreach { e =>
        parse(e) match {
          case None =>
            keep += e
            outer += e.toAttribute
          case Some(Half(a, order, keyAttr, y, agg)) =>
            def member(f: AggregateExpression, frame: SpecifiedWindowFrame,
                name: String): Alias =
              Alias(WindowExpression(f,
                WindowSpecDefinition(Seq(), order, frame)), name)()
            val sub = y < 0L
            // NULL-key rows: SQL gives them their own peer-group frame
            // under ANY offset-bounded RANGE — and the running prefix
            // member evaluates to exactly that (nulls sort first; the
            // peer-inclusive prefix at a null row is the null group).
            // Non-null rows' UNBOUNDED PRECEDING includes the leading
            // null group (verified against WindowExec), which the
            // prefix member also includes and the gap member (peers
            // only) never touches — so the subtraction stays exact.
            def nullKeyGuard(runValue: Expression, decomposed: Expression)
            : Expression =
              if (keyAttr.nullable)
                If(org.apache.spark.sql.catalyst.expressions
                  .IsNull(keyAttr), runValue, decomposed)
              else decomposed
            agg.aggregateFunction match {
              case cnt: Count =>
                // count(*) and count(v) alike: empty frame counts 0 —
                // no null guard on the value side needed
                val run = member(freshAgg(agg, cnt), prefixFrame,
                  a.name + "_hr_run")
                val gap = member(freshAgg(agg, cnt), gapFrame(y),
                  a.name + "_hr_gap")
                keep += run += gap
                val v: Expression =
                  if (sub) Subtract(run.toAttribute, gap.toAttribute)
                  else Add(run.toAttribute, gap.toAttribute)
                outer += Alias(nullKeyGuard(run.toAttribute, v),
                  a.name)(exprId = a.exprId, qualifier = a.qualifier,
                  explicitMetadata = a.explicitMetadata)
              case s: Sum =>
                val runS = member(freshAgg(agg, s), prefixFrame,
                  a.name + "_hr_runs")
                val gapS = member(freshAgg(agg, s), gapFrame(y),
                  a.name + "_hr_gaps")
                val runC = member(freshAgg(agg, Count(s.children)),
                  prefixFrame, a.name + "_hr_runc")
                val gapC = member(freshAgg(agg, Count(s.children)),
                  gapFrame(y), a.name + "_hr_gapc")
                keep += runS += gapS += runC += gapC
                val zero = Literal.default(runS.dataType)
                def cz(x: Expression) = Coalesce(Seq(x, zero))
                val n: Expression =
                  if (sub) Subtract(runC.toAttribute, gapC.toAttribute)
                  else Add(runC.toAttribute, gapC.toAttribute)
                // NOTE sum types here are non-decimal (parse excludes
                // decimal sums), so Add/Subtract preserve the dataType
                // and the If branches below type-check
                val v: Expression =
                  if (sub) Subtract(cz(runS.toAttribute),
                    cz(gapS.toAttribute))
                  else Add(cz(runS.toAttribute), cz(gapS.toAttribute))
                outer += Alias(
                  nullKeyGuard(runS.toAttribute,
                    If(EqualTo(n, Literal(0L)),
                      Literal.create(null, runS.dataType), v)),
                  a.name)(exprId = a.exprId, qualifier = a.qualifier,
                    explicitMetadata = a.explicitMetadata)
            }
        }
      }
      Project(child.output ++ outer,
        Window(keep.toSeq, Seq(), orderSpec, child, hint))
  }
}
