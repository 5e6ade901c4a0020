package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Shared helpers for the DataFrame entry points of the custom operators
  * (GlobalRank.ranked, GlobalScan.runningSum, GlobalFrame.sliding,
  * Recurrence.scan): the analyzed input plan, the (name, descending) ->
  * SortOrder resolution and the plan -> DataFrame wrap. The entry points
  * only build plan nodes; their strategies come from
  * `graft.functions.GraftExtensions.inject`. */
private[graft] object SessionHooks {

  /** The analyzed plan of `df` plus its attribute-by-name resolver. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no column $name in ${plan.output.map(_.name).mkString(", ")}"))

  def resolveOrder(plan: LogicalPlan,
                   keys: Seq[(String, Boolean)]): Seq[SortOrder] =
    keys.map { case (name, desc) =>
      SortOrder(attr(plan, name),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }

  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)
}
