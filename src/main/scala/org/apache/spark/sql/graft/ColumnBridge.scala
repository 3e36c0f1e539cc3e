package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-expression bridge for the engine's native
  * expressions and operators (Spark 4's `Column` wraps a ColumnNode and
  * `Dataset.ofRows` is `private[sql]`, so this one-file shim in the sql
  * package re-exports just the three needed). Lets graft.functions build
  * codegen'd custom expressions as plain `Column`s without requiring a
  * session function registry, and graft.operators wrap a hand-built
  * logical node as a DataFrame. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
