package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{DoubleType, LongType}

/** GLOBAL FIRST-ORDER LINEAR RECURRENCE — `y_i = m_i * y_{i-1} + c_i`
  * over a total order, with NO single-partition stage: the scan algebra
  * no built-in window function can express (each output depends on ALL
  * previous rows through a non-commutative fold), distributed through
  * the same two-pass discipline as the Global* window family.
  *
  * The per-row transform `f_i(y) = m_i*y + c_i` is an affine map, and
  * affine maps COMPOSE associatively: `(f2 ∘ f1)(y) = (m2*m1)*y +
  * (m2*b1 + c2)`. So in the [[GlobalExec]] protocol pass 1 folds each
  * partition into ONE composed transform (M_p, B_p), the driver
  * prefix-composes them to the exact state entering each partition, and
  * pass 2 threads the recurrence from that state.
  *
  * Two element algebras, chosen by the m/c column type:
  *
  *   - LONG, wrapping mod 2^64 — EXACT. This is polynomial/rolling-hash
  *     algebra (`h_i = base*h_{i-1} + token_i`): chained corpus
  *     fingerprints, LCG state advance, checksum chains. Associativity
  *     is exact, so the distributed fold is bit-identical to the
  *     sequential recurrence.
  *   - DOUBLE — EWMA and friends (`y = a*y + (1-a)*x`). Floating-point
  *     affine composition is associative only up to rounding: crossing a
  *     partition boundary applies the composed (M_p, B_p) in one fused
  *     step where the sequential recurrence threads y through every row,
  *     so results agree to ~ulp/(1-a) but are NOT bit-identical to a
  *     single-threaded fold. Callers hash-comparing against a sequential
  *     reference must compare with tolerance (RecurrenceSpec pins the
  *     bound); exact-output pipelines should use the Long algebra.
  *
  * Rows whose m or c is NULL are identity rows: the state passes through
  * unchanged and is emitted as that row's y (shape null semantics in the
  * m/c expressions — e.g. an EWMA that skips nulls maps them to
  * (m=1, c=0)).
  *
  * No optimizer rule: Spark has no SQL surface for recurrences, so there
  * is no Window shape to intercept — [[Recurrence]] builds this plan
  * directly (like `GlobalRank.ranked`), and [[GlobalStrategy]] plans
  * it. */
case class GlobalRecurPlan(order: Seq[SortOrder], m: Attribute,
    c: Attribute, seed: Any, child: LogicalPlan,
    yAttr: AttributeReference)
  extends GlobalNode {
  override def added: Seq[Attribute] = yAttr :: Nil
  override def exec(planned: SparkPlan): SparkPlan =
    GlobalRecurExec(order, m, c, seed, yAttr, planned)
  override protected def withNewChildInternal(newChild: LogicalPlan)
  : GlobalRecurPlan = copy(child = newChild)
}

object GlobalRecurPlan {
  def apply(order: Seq[SortOrder], m: Attribute, c: Attribute, seed: Any,
            child: LogicalPlan): GlobalRecurPlan = {
    require(m.dataType == c.dataType &&
      (m.dataType == LongType || m.dataType == DoubleType),
      s"recurrence columns must both be LONG or both DOUBLE, " +
        s"got ${m.dataType}/${c.dataType}")
    GlobalRecurPlan(order, m, c, seed, child,
      AttributeReference("y", m.dataType, nullable = false)())
  }
}

case class GlobalRecurExec(order: Seq[SortOrder], m: Attribute,
    c: Attribute, seed: Any, yAttr: Attribute, child: SparkPlan)
  extends GlobalExec {
  override def added: Seq[Attribute] = yAttr :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val isLong = m.dataType == LongType
    val mOrd = child.output.indexWhere(_.exprId == m.exprId)
    val cOrd = child.output.indexWhere(_.exprId == c.exprId)
    require(mOrd >= 0 && cOrd >= 0,
      s"recurrence columns $m/$c not in child output")
    val y0 = seed
    // pass 1: each partition's composed affine transform (M, B) — two
    // scalars per partition, regardless of partition size
    twoPass { (_, it) =>
      if (isLong) {
        var cm = 1L; var cb = 0L // identity transform
        it.foreach { row =>
          if (!row.isNullAt(mOrd) && !row.isNullAt(cOrd)) {
            val mi = row.getLong(mOrd)
            cm = mi * cm // wrapping mod 2^64 — exact algebra
            cb = mi * cb + row.getLong(cOrd)
          }
        }
        (cm: Any, cb: Any)
      } else {
        var cm = 1.0; var cb = 0.0
        it.foreach { row =>
          if (!row.isNullAt(mOrd) && !row.isNullAt(cOrd)) {
            val mi = row.getDouble(mOrd)
            cm = mi * cm
            cb = mi * cb + row.getDouble(cOrd)
          }
        }
        (cm: Any, cb: Any)
      }
    } { parts =>
      // carry: the exact state ENTERING each partition (prefix-composed)
      if (isLong)
        parts.scanLeft(y0.asInstanceOf[Long]) { case (y, (cm, cb)) =>
          cm.asInstanceOf[Long] * y + cb.asInstanceOf[Long] }
          .init.map(y => y: Any)
      else
        parts.scanLeft(y0.asInstanceOf[Double]) { case (y, (cm, cb)) =>
          cm.asInstanceOf[Double] * y + cb.asInstanceOf[Double] }
          .init.map(y => y: Any)
    } { (start, it, out) =>
      // thread the recurrence from the spliced start state
      if (isLong) {
        var y = start.asInstanceOf[Long]
        it.map { row =>
          if (!row.isNullAt(mOrd) && !row.isNullAt(cOrd))
            y = row.getLong(mOrd) * y + row.getLong(cOrd)
          out.setLong(0, y)
          out(row)
        }
      } else {
        var y = start.asInstanceOf[Double]
        it.map { row =>
          if (!row.isNullAt(mOrd) && !row.isNullAt(cOrd))
            y = row.getDouble(mOrd) * y + row.getDouble(cOrd)
          out.setDouble(0, y)
          out(row)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
  : GlobalRecurExec = copy(child = newChild)
}

/** Library surface for the recurrence operator (no SQL shape exists to
  * rewrite, so these build the plan node directly). */
object Recurrence {

  /** df + `y` column: `y_i = m_i * y_{i-1} + c_i` threaded over the
    * total order given by `keys` ((name, descending) pairs). `mCol` and
    * `cCol` must both be LONG (exact wrapping algebra) or both DOUBLE.
    * NULL m/c rows pass the state through unchanged. */
  def scan(df: DataFrame, mCol: String, cCol: String, seed: Any,
           keys: (String, Boolean)*): DataFrame = {
    val analyzed = SessionHooks.analyzed(df)
    SessionHooks.ofRows(df,
      GlobalRecurPlan(SessionHooks.resolveOrder(analyzed, keys),
        SessionHooks.attr(analyzed, mCol), SessionHooks.attr(analyzed, cCol),
        seed, analyzed))
  }
}
