package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ⇄ Column bridge. Spark 4 moved these conversions behind
  * `private[sql]` (`classic.ExpressionUtils`), so libraries providing
  * native Catalyst expressions expose them through a small shim inside
  * the `org.apache.spark.sql` package hierarchy — the standard pattern
  * of Spark extension libraries (the alternative, registering through
  * SparkSessionExtensions, couples the library to session construction
  * which this library deliberately leaves to its host).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Session function-registry bridge: `SparkSession.sessionState` is
  * `private[sql]` in Spark 4, so runtime function registration (the
  * path for hosts that already own a running session — the library's
  * deliberate no-session-coupling stance) lives in this shim too.
  * Hosts that own their builder use `graft.plans.GraftExtensions` via
  * `spark.sql.extensions` instead.
  */
object FunctionBridge {
  def register(spark: SparkSession, id: FunctionIdentifier,
               info: ExpressionInfo,
               builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** TABLE-function leg of the same shim (`tableFunctionRegistry` is
    * equally `private[sql]`): a TVF builder maps argument expressions
    * to the LogicalPlan the FROM clause reads.
    */
  def registerTable(spark: SparkSession, id: FunctionIdentifier,
                    info: ExpressionInfo,
                    builder: Seq[Expression] =>
                      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
}

/** Catalyst predicate → `sources.Filter` (`DataSourceStrategy.
  * translateFilter` is `protected[sql]`): the one vocabulary the
  * changelog's key-range extraction reads, whichever surface pushed
  * the predicate. Top-level columns only; None when untranslatable.
  */
object FilterBridge {
  def translate(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
