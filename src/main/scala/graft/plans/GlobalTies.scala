package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.LongType

/** GLOBAL RANK WITH TIES — `rank()` / `dense_rank()` / `percent_rank()` /
  * `ntile(n)` / `cume_dist()` / `row_number()` over a total order, with NO
  * single-partition stage: [[GlobalRankPlan]]'s two-pass mechanism
  * extended from gap-free row numbers to tie-aware ranks (percent_rank
  * and ntile ride along for free: both are functions of the rank / row
  * position and the global count, which the partials already carry).
  *
  * Ties make this harder than row_number: a tie group may SPAN partition
  * boundaries after range partitioning, so a row's rank can depend on rows
  * it never sees. In the [[GlobalExec]] protocol:
  *
  *   - pass 1 summarizes each partition: row count, tie-group count,
  *     leading/trailing tie-run lengths, and COPIES OF THE FIRST AND LAST
  *     ROW;
  *   - the driver chains boundary comparisons (does partition p's first
  *     row tie partition p-1's last?) into each partition's carry — row
  *     offset, rank carry (earlier-partition rows tying the first group),
  *     dense base (distinct groups before, net of shared boundary groups);
  *   - pass 2 re-detects tie groups locally and emits
  *     `rank = rowOffset - carry + 1` for the first group,
  *     `rowOffset + groupStart + 1` for later ones;
  *     `dense_rank = denseBase + localGroupIndex`.
  *
  * One node computes ANY NUMBER of kinds over the same order in ONE
  * pass-pair — the partials are identical for every kind, so a window
  * projecting `row_number() + rank() + dense_rank()` fuses into a single
  * persist + two passes instead of stacking three operators
  * ([[GlobalWindowRule]] relies on this). `cume_dist` is the one kind
  * that cannot fuse with the others: it plans over the REVERSED order
  * (see [[TieKind.CumeDist]]).
  *
  * Tie detection uses the ORDER's own comparator ([[RowOrdering]] over the
  * SortOrder expressions — compare == 0), not binary key equality, so SQL
  * equivalence classes (-0.0 vs 0.0, null ordering) match WindowExec's.
  */
// Serializable: kinds ride into task closures (NTile is a case CLASS —
// Java deserialization needs its superclass serializable too)
sealed abstract class TieKind(val sql: String) extends Serializable
object TieKind {
  /** ties share a rank; the next group skips past them (1,1,3) */
  case object Rank extends TieKind("rank")
  /** ties share a rank; no gaps (1,1,2) */
  case object DenseRank extends TieKind("dense_rank")
  /** plain global row position (1..n) — lets `row_number()` fuse into a
    * multi-kind ties node (the single-function rewrite keeps the lighter
    * [[GlobalRankPlan]], whose partials carry no boundary rows) */
  case object RowNum extends TieKind("row_number")
  /** (rank - 1) / (N - 1) as double, 0.0 for a single row — needs only
    * the rank plus the global count, both already in the partials */
  case object PercentRank extends TieKind("percent_rank")
  /** n near-equal row buckets 1..n: the first (N mod n) buckets get one
    * extra row — needs only the row position plus the global count */
  case class NTile(n: Int) extends TieKind("ntile") {
    require(n > 0, "ntile bucket count must be positive")
  }
  /** #{rows <= current under the USER's order} / N as double. A forward
    * scan cannot see its tie group's END, so the plan's `order` here is
    * the REVERSE of the user's: under it, rank' = 1 + #{rows strictly
    * after the current group}, giving cume_dist = (N - rank' + 1) / N.
    * The rule performs the reversal; the exec just emits the
    * complement. */
  case object CumeDist extends TieKind("cume_dist")
}

object GlobalTiesPlan {
  /** Output attributes typed per kind: ranks/buckets/positions are longs
    * (the rule narrows back to the window function's int), percent_rank
    * and cume_dist are the native double. All non-null — every row gets
    * a value. */
  def apply(order: Seq[SortOrder], kinds: Seq[TieKind],
            child: LogicalPlan): GlobalTiesPlan = {
    require(kinds.nonEmpty, "GlobalTiesPlan needs at least one kind")
    val attrs = kinds.map { kind =>
      val dt = kind match {
        case TieKind.PercentRank | TieKind.CumeDist =>
          org.apache.spark.sql.types.DoubleType
        case _ => LongType
      }
      AttributeReference("rank", dt, nullable = false)()
    }
    GlobalTiesPlan(order, kinds, child, attrs)
  }

  /** Single-kind convenience (tests). */
  def apply(order: Seq[SortOrder], kind: TieKind,
            child: LogicalPlan): GlobalTiesPlan =
    apply(order, Seq(kind), child)
}

case class GlobalTiesPlan(order: Seq[SortOrder], kinds: Seq[TieKind],
    child: LogicalPlan, rankAttrs: Seq[AttributeReference])
  extends GlobalNode {
  override def added: Seq[Attribute] = rankAttrs
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalTiesExec(order, kinds, rankAttrs, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalTiesPlan = copy(child = newChild)
}

case class GlobalTiesExec(order: Seq[SortOrder], kinds: Seq[TieKind],
                          rankAttrs: Seq[Attribute], child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = rankAttrs

  import GlobalTiesExec.{Partial, TieCarry}

  override protected def doExecute(): RDD[InternalRow] = {
    val orderLocal = order
    val childOutput = child.output
    val theKinds = kinds.toArray // stable local for task closures
    val nKinds = theKinds.length
    // pass 1: constant-size partials per partition
    twoPass { (_, it) =>
      val cmp = RowOrdering.create(orderLocal, childOutput)
      var count = 0L; var groups = 0L
      var leadEq = 0L; var trailEq = 0L
      var first: InternalRow = null
      var prev: InternalRow = null
      var leading = true
      it.foreach { row =>
        count += 1L
        if (first == null) { first = row; groups = 1L; leadEq = 1L
          trailEq = 1L }
        else if (cmp.compare(prev, row) == 0) {
          if (leading) leadEq += 1L
          trailEq += 1L
        } else { leading = false; groups += 1L; trailEq = 1L }
        prev = row
      }
      Partial(count, groups, leadEq, trailEq, first, prev)
    } { partials =>
      // driver: chain boundaries into a TieCarry per partition. All
      // O(numPartitions) work on a few rows — no data moves.
      val cmp = RowOrdering.create(orderLocal, childOutput)
      val rowOffsets = partials.map(_.count).scanLeft(0L)(_ + _)
      val total = rowOffsets.last
      var distinctSoFar = 0L       // distinct groups in partitions < p
      var prevNonEmpty = -1        // last non-empty partition before p
      partials.indices.map { p =>
        val part = partials(p)
        var carry = 0L
        var denseBase = distinctSoFar
        if (part.count > 0L) {
          // shared: does this partition's first group continue the
          // previous non-empty partition's last group?
          val shared = prevNonEmpty >= 0 &&
            cmp.compare(partials(prevNonEmpty).last, part.first) == 0
          // rank carry: rows in earlier partitions tying our first row —
          // walk back through trailing runs while they span whole
          // partitions (a partition that is entirely one tie group passes
          // the chain through)
          if (shared) {
            var q = prevNonEmpty
            var chained = true
            while (chained && q >= 0) {
              val pq = partials(q)
              if (pq.count == 0L) q -= 1 // empty partitions are transparent
              else if (cmp.compare(pq.last, part.first) == 0) {
                carry += pq.trailEq
                chained = pq.trailEq == pq.count
                q -= 1
              } else chained = false
            }
            denseBase -= 1L
          }
          distinctSoFar += part.groups - (if (shared) 1L else 0L)
          prevNonEmpty = p
        }
        TieCarry(rowOffsets(p), carry, denseBase, total)
      }.toArray
    } { (tc, it, out) =>
      // pass 2: re-detect local groups ONCE per row, emit every kind
      val cmp2 = RowOrdering.create(orderLocal, childOutput)
      val base = tc.rowOffset
      val totalRows = tc.total
      // ntile bucket geometry from the global count, per ntile kind: the
      // first `rem` buckets hold `big` rows, the rest hold big - 1
      // (Spark/SQL semantics). When N < n every row is its own bucket
      // and the small-bucket arm is unreachable (no division by zero).
      val ntileBig = new Array[Long](nKinds)
      val ntileRem = new Array[Long](nKinds)
      var ki = 0
      while (ki < nKinds) {
        theKinds(ki) match {
          case TieKind.NTile(nb) =>
            ntileBig(ki) =
              totalRows / nb + (if (totalRows % nb > 0) 1L else 0L)
            ntileRem(ki) = totalRows % nb
          case _ =>
        }
        ki += 1
      }
      var prev: InternalRow = null
      var localIdx = -1L   // 0-based row index within the partition
      var groupIdx = 0L    // 1-based tie-group index within the partition
      var groupStart = 0L  // local index of the current group's first row
      it.map { row =>
        localIdx += 1L
        if (prev == null || cmp2.compare(prev, row) != 0) {
          groupIdx += 1L
          groupStart = localIdx
        }
        prev = row
        // tie rank: first group continues the earlier partitions' value
        val rank =
          if (groupIdx == 1L) base - tc.carry + 1L
          else base + groupStart + 1L
        var i = 0
        while (i < nKinds) {
          theKinds(i) match {
            case TieKind.Rank => out.setLong(i, rank)
            case TieKind.DenseRank => out.setLong(i, tc.denseBase + groupIdx)
            case TieKind.RowNum => out.setLong(i, base + localIdx + 1L)
            case TieKind.PercentRank =>
              out.setDouble(i,
                if (totalRows <= 1L) 0.0
                else (rank - 1L).toDouble / (totalRows - 1L).toDouble)
            // this operator's order is the REVERSE of the user's window
            // order (see TieKind.CumeDist): rank here counts the strictly-
            // greater groups, so the complement is #{rows <= current}
            case TieKind.CumeDist =>
              out.setDouble(i,
                (totalRows - rank + 1L).toDouble / totalRows.toDouble)
            case TieKind.NTile(nb) =>
              val i0 = base + localIdx // global 0-based row position
              out.setLong(i,
                if (i0 < ntileRem(i) * ntileBig(i)) i0 / ntileBig(i) + 1L
                else ntileRem(i) + (i0 - ntileRem(i) * ntileBig(i)) /
                  (totalRows / nb) + 1L)
          }
          i += 1
        }
        out(row)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalTiesExec = copy(child = newChild)
}

object GlobalTiesExec {
  /** Per-partition pass-1 summary. `first`/`last` are row COPIES (null on
    * an empty partition); the tie-run lengths let the driver chain groups
    * across boundaries without seeing any interior row. Top-level (not
    * nested in the exec) so task closures don't drag the SparkPlan in. */
  private[plans] case class Partial(count: Long, groups: Long, leadEq: Long,
      trailEq: Long, first: InternalRow, last: InternalRow)

  /** Per-partition carry: rows before the partition (`rowOffset`),
    * earlier-partition rows tying its first row (`carry`), distinct
    * groups before it net of a shared boundary group (`denseBase`), and
    * the global row count (`total`). */
  private[plans] case class TieCarry(rowOffset: Long, carry: Long,
      denseBase: Long, total: Long)
}
