package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** GLOBAL RANK as a first-class operator: `rank = 1..n` over a total order,
  * with NO single-partition stage.
  *
  * `row_number()` over an un-partitioned window (the direct translation of
  * the reference's single-reducer ranking, `StockCount.java:61-66`) funnels
  * every row through one partition — fine after an aggregation (key-space-
  * sized input), fatal on raw 100 TB data. This operator instead:
  *
  *   1. total-orders the input via range partitioning (planned sort below);
  *   2. computes per-partition row counts (one tiny job on counts only);
  *   3. assigns `rank = partitionOffset + localIndex + 1` in a single pass.
  *
  * Every stage is distributed; the only global knowledge is the per-
  * partition count array (numPartitions longs on the driver) — the same
  * mechanism as `RDD.zipWithIndex`, but planned as a Catalyst operator:
  * `GlobalRankPlan` (logical) -> [[GlobalRankStrategy]] -> [[GlobalRankExec]]
  * (physical, requiredChildOrdering/Distribution = global sort, so the
  * planner inserts the range-partitioned sort automatically).
  *
  * Usage: [[GlobalRank.ranked]] (plan-level), or inject
  * [[GlobalRankStrategy]] via `SparkSessionExtensions.injectPlannerStrategy`.
  */
case class GlobalRankPlan(order: Seq[SortOrder], child: LogicalPlan,
    // a constructor field (not a body val) so copy()/transform preserve the
    // exprId — a body val would mint a fresh attribute on every tree copy
    rankAttr: AttributeReference =
      AttributeReference("rank", LongType, nullable = false)())
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes
  : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalRankPlan = copy(child = newChild)
}

case class GlobalRankExec(order: Seq[SortOrder], rankAttr: Attribute,
                          child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr

  // ask the planner for a global sort below us: range-partitioned exchange
  // + per-partition sort, fully distributed
  override def requiredChildDistribution
  : Seq[org.apache.spark.sql.catalyst.plans.physical.Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputOrdering: Seq[SortOrder] = order
  // per-partition 1:1 operator: rows never move, so the child's (range)
  // partitioning survives — without this the default UnknownPartitioning
  // makes EnsureRequirements re-shuffle every consumer that wants the
  // same distribution (e.g. a second scan stacked on this one)
  override def outputPartitioning
  : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // Persist the sorted child across the two passes: the count job and the
    // rank job would otherwise each re-run the post-shuffle per-partition
    // sort (the exchange itself is reused, the sort isn't). Rows must be
    // copied before caching — operators reuse mutable UnsafeRow buffers.
    // Memory-pressured partitions spill to disk; the ContextCleaner
    // unpersists the blocks once the RDD is unreachable after the query.
    // Persisting also makes the two passes see identical row order, so
    // ranks are stable even when `order` is not a total order.
    val input = child.execute()
      .mapPartitions(it => it.map(_.copy()), preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-partition counts (counts only cross the driver)
    val counts = input.mapPartitions(
      it => Iterator.single(it.size.toLong), preservesPartitioning = true)
      .collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = input.sparkContext.broadcast(offsets)
    // pass 2: attach rank = offset + local index + 1. Output goes through
    // an UnsafeProjection (created per task — it holds codegen state):
    // operators like collect()'s byte-array path require UnsafeRow, and
    // nothing above this node is guaranteed to re-project.
    val types = output.map(_.dataType).toArray
    input.mapPartitionsWithIndex({ (pid, it) =>
      var i = bc.value(pid)
      val n = types.length
      val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(types)
      // one scratch row per task, reused: the projection copies the
      // values into its own buffer before the next iteration
      val out = new GenericInternalRow(n)
      it.map { row =>
        i += 1
        var j = 0
        while (j < n - 1) { out.update(j, row.get(j, types(j))); j += 1 }
        out.update(n - 1, i)
        proj(out)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalRankExec = copy(child = newChild)
}

/** One strategy for the whole rank family (row_number's GlobalRankPlan
  * and rank/dense_rank's GlobalTiesPlan): the one injection in
  * `graft.functions.GraftExtensions` covers all three window functions
  * with no extra wiring. */
object GlobalRankStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GlobalRankPlan =>
      GlobalRankExec(g.order, g.rankAttr,
        org.apache.spark.sql.execution.PlanLater(g.child)) :: Nil
    case g: GlobalTiesPlan =>
      GlobalTiesExec(g.order, g.kinds, g.rankAttrs,
        org.apache.spark.sql.execution.PlanLater(g.child)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: rewrite the rank family OVER an UN-PARTITIONED window —
  * the plan Spark executes as a single-partition WindowExec, the one
  * operator shape that cannot scale past one executor — into the
  * distributed two-pass operators: `row_number()` to [[GlobalRankPlan]],
  * `rank()`/`dense_rank()` to [[GlobalTiesPlan]] (boundary-chained tie
  * groups). The rewrite preserves the output schema exactly: the rank
  * attribute is cast back to the function's IntegerType under the
  * original Alias exprId, so downstream references resolve unchanged.
  * Only fires when the window's sole expression is one bare global rank
  * function — partitioned windows, offset functions, or multi-expression
  * windows keep Spark's WindowExec (partitioned windows parallelize fine
  * on their own).
  *
  * Registered session-wide through `graft.functions.GraftExtensions`
  * (`injectOptimizerRule` + `injectPlannerStrategy`). */
object GlobalRankRule
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute => CAttr,
    Cast, DenseRank, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
    IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, Rank,
    RowNumber, WindowExpression, WindowSpecDefinition}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit,
    Project, Sort, Window}

  /** A window whose input is already LIMIT-bounded (word_count's top-100
    * shape: `orderBy(...).limit(k)` then rank) is provably tiny at ANY
    * data scale — the bound is a static literal, not a function of the
    * input. There a single-partition WindowExec over <= k rows is optimal;
    * the two-pass rank's extra jobs + persist would be pure overhead.
    * Walks through the deterministic unary nodes the optimizer may leave
    * between the window and its limit. */
  /** Full comparator inversion: direction AND null ordering flip, so
    * "strictly before, in the reversed order" is exactly "strictly
    * after, in the user's order" — including null groups.
    * private[plans]: [[GlobalShiftRule]] reuses it to plan ignore-nulls
    * lead as ignore-nulls lag over the reversed order. */
  private[plans] def reverseOrder(so: SortOrder): SortOrder = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending,
      NullsFirst, NullsLast}
    SortOrder(so.child,
      if (so.direction == Ascending) Descending else Ascending,
      if (so.nullOrdering == NullsFirst) NullsLast else NullsFirst,
      so.sameOrderExpressions)
  }

  private val BoundedLimit = 100000L
  /** Shared with [[GlobalShiftRule]] — the offset family uses the same
    * "provably tiny input stays on WindowExec" escape. */
  private[plans] def isLimitBounded(p: LogicalPlan): Boolean =
    limitBounded(p)
  @scala.annotation.tailrec
  private def limitBounded(p: LogicalPlan): Boolean = p match {
    case GlobalLimit(IntegerLiteral(n), _) => n <= BoundedLimit
    case Project(_, c) => limitBounded(c)
    case Filter(_, c) => limitBounded(c)
    case s: Sort => limitBounded(s.child)
    case _ => false
  }

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

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // A Filter above that LIMITS the rank column (directly, or renamed
    // through intervening Projects) is a top-k query: Spark's
    // InferWindowGroupLimit turns it into per-partition top-k pruning (the
    // shuffle carries <= k rows per partition), which beats a full
    // two-pass rank over ALL rows when only k survive — leave those
    // windows alone. Filters Spark can't prune on (e.g. arithmetic over
    // the rank) don't suppress the rewrite: there the two-pass rank is
    // strictly better than an unpruned single-partition window.
    //
    // Keyed by the rank alias's exprId, NOT the Window node: two
    // structurally identical windows are case-class-equal, so a Set[Window]
    // would let the one under a limiting Filter suppress the rewrite of
    // its un-limited twin. ExprIds are unique per Alias, so they
    // distinguish the two nodes where structural equality cannot.
    val rankLimited = plan.collect {
      case Filter(cond, child) => rankLimitedWindow(cond, child)
    }.flatten.map(_.windowExpressions.head.exprId).toSet
    plan transform {
      case Window(Seq(a @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(Seq(), order, _)), name)),
          Seq(), _, child, _)
          if order.nonEmpty && !rankLimited.contains(a.exprId) &&
            !limitBounded(child) =>
        val g = GlobalRankPlan(order, child)
        Project(child.output :+
          Alias(Cast(g.rankAttr, org.apache.spark.sql.types.IntegerType),
            name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = a.explicitMetadata),
          g)
      // rank()/dense_rank() — same un-partitioned shape, tie-aware: plans
      // as the boundary-chained GlobalTies operator. Same guards: a
      // prunable top-k filter or a LIMIT-bounded input keeps WindowExec
      // (InferWindowGroupLimit prunes rank and dense_rank too).
      case Window(Seq(a @ Alias(WindowExpression(
            fn @ (_: Rank | _: DenseRank),
            WindowSpecDefinition(Seq(), order, _)), name)),
          Seq(), _, child, _)
          if order.nonEmpty && !rankLimited.contains(a.exprId) &&
            !limitBounded(child) =>
        val kind = fn match {
          case _: Rank => TieKind.Rank
          case _ => TieKind.DenseRank
        }
        val g = GlobalTiesPlan(order, kind, child)
        Project(child.output :+
          Alias(Cast(g.rankAttr, org.apache.spark.sql.types.IntegerType),
            name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = a.explicitMetadata),
          g)
      // percent_rank()/ntile(n)/cume_dist() — functions of the tie rank /
      // row position plus the global count, which the partials already
      // carry. No rankLimited suppression: InferWindowGroupLimit cannot
      // prune these functions, so a filter above them never makes
      // WindowExec preferable. cume_dist plans over the REVERSED order
      // (a forward scan cannot see its tie group's end; under the
      // reverse order the complement of the rank is exactly
      // #{rows <= current} — see TieKind.CumeDist).
      case w @ Window(Seq(a @ Alias(WindowExpression(
            fn @ (_: org.apache.spark.sql.catalyst.expressions.PercentRank |
                  _: org.apache.spark.sql.catalyst.expressions.NTile |
                  _: org.apache.spark.sql.catalyst.expressions.CumeDist),
            WindowSpecDefinition(Seq(), order, _)), name)),
          Seq(), _, child, _)
          if order.nonEmpty && !limitBounded(child) =>
        val kindOpt = fn match {
          case _: org.apache.spark.sql.catalyst.expressions.PercentRank =>
            Some((TieKind.PercentRank: TieKind, order))
          case org.apache.spark.sql.catalyst.expressions
            .NTile(IntegerLiteral(n)) if n > 0 =>
            Some((TieKind.NTile(n), order))
          case _: org.apache.spark.sql.catalyst.expressions.CumeDist =>
            Some((TieKind.CumeDist, order.map(reverseOrder)))
          case _ => None
        }
        kindOpt.map { case (kind, planOrder) =>
          val g = GlobalTiesPlan(planOrder, kind, child)
          // percent_rank is already the native double; ntile narrows the
          // scan's long back to the function's int
          val result: Expression =
            if (g.rankAttr.dataType == a.dataType) g.rankAttr
            else Cast(g.rankAttr, a.dataType)
          Project(child.output :+
            Alias(result, name)(exprId = a.exprId,
              qualifier = a.qualifier,
              explicitMetadata = a.explicitMetadata),
            g): LogicalPlan
        }.getOrElse(w)
    }
  }
}

object GlobalRank {

  /** df + `rank` column (long, 1..n) under the given total order — the
    * scale-out replacement for `row_number().over(Window.orderBy(...))`.
    * `keys` are (columnName, descending) pairs, significant first. */
  def ranked(df: DataFrame, keys: (String, Boolean)*): DataFrame = {
    val analyzed = SessionHooks.analyzed(df)
    SessionHooks.ofRows(df,
      GlobalRankPlan(SessionHooks.resolveOrder(analyzed, keys), analyzed))
  }
}
