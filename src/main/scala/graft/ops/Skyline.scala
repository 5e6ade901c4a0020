package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D PARETO FRONTIER (skyline), maximizing both coordinates.
  *
  * A point p is dominated iff some q has q.x >= p.x and q.y >= p.y with
  * at least one strict. The textbook plan is the quadratic NOT EXISTS
  * dominance self-join (two inequality predicates — not an equi-join, so
  * at 100 TB it is a broadcast nested loop over the full point set).
  * Sorted, it collapses to a linear sweep over DISTINCT points: under
  * (x DESC, y DESC), every earlier point has x > p.x (dominating p iff
  * its y >= p.y) or x == p.x with y > p.y (always dominating p) — both
  * tests are ONE strict comparison of p.y against the exclusive running
  * max of y. Distinctness makes the equal-pair case (which dominates
  * nothing) vanish from the predecessors.
  *
  * Spark-first shape: the distinct aggregation is an ordinary two-phase
  * hash aggregate; the sweep is an un-partitioned running max + lag that
  * the session's GlobalWindowRule plans as the two-pass
  * boundary-partials operators stacked on ONE range sort — no
  * single-partition WindowExec, no dominance join (pinned in
  * PlanAuditSpec). O(n log n) total, driver state O(partitions).
  *
  * Output: one row per frontier point — xCol, yCol (original names) and
  * `n_points` (BIGINT input rows collapsed into the point). Rows whose
  * x or y is NULL are excluded (dominance is undefined on missing
  * coordinates). Both columns must be orderable; y additionally needs
  * max() support (any orderable type qualifies).
  *
  * Reference analogue: none (the reference has no joins at all) —
  * engine extension in the GlobalScan family.
  */
object Skyline {

  def frontier(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val w = Window.orderBy(col(xCol).desc, col(yCol).desc)
    df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("n_points"))
      .withColumn("_m", max(col(yCol)).over(w.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_pm", lag(col("_m"), 1).over(w))
      .where(col("_pm").isNull || col("_pm") < col(yCol))
      .select(col(xCol), col(yCol), col("n_points"))
  }
}
