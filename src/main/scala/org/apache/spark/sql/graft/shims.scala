/*
 * Thin accessor for Spark's private[sql] Column↔Expression bridge —
 * the standard pattern for Spark-native extension libraries (the
 * published Column/Dataset factory shims use the same package-placement
 * technique). Nothing else in this file; all engine code lives in the
 * graft.* packages.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression,
  NullOrdering, NullsFirst, NullsLast, SortDirection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.{SortOrder => SortNode}

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort column as `Dataset.orderBy` reads it: the key, its
    * direction and NULL placement (a bare column sorts ascending,
    * NULLS FIRST).
    */
  def sortOrder(c: Column): (Column, SortDirection, NullOrdering) = c.node match {
    case SortNode(child, dir, nulls, _) =>
      (new Column(child),
        if (dir == SortNode.Descending) Descending else Ascending,
        if (nulls == SortNode.NullsFirst) NullsFirst else NullsLast)
    case _ => (c, Ascending, NullsFirst)
  }
}

object PlanBridge {
  /** Wrap an already-resolved LogicalPlan as a DataFrame (the standard
    * custom-operator entry point; `Dataset.ofRows` is private[sql]).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL table function on a live session (the runtime
    * analogue of GraftExtensions' injectTableFunction, for sessions
    * built without extensions). Overwrites any previous registration
    * under the same identifier (registerFunction semantics).
    */
  def registerTableFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)

  /** Idempotently add a planner strategy to a live session (the
    * runtime analogue of GraftExtensions' injectPlannerStrategy, for
    * sessions built without extensions).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
