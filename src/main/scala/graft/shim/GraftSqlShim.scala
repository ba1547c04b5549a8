package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge between public `Column`s and Catalyst `Expression`s. Spark 4
  * moved this behind `private[sql] classic.ExpressionUtils`; a same-
  * package shim is the standard way for an extension library to plug
  * custom codegen expressions into the Column API. */
object GraftSqlShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan, e.g. a `LocalRelation` of rows the
    * driver already holds — no re-encoding through external `Row`s. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `AbstractDataType` is `private[sql]` at the Scala level; extensions
    * implementing ExpectsInputTypes need to NAME it in the inputTypes
    * signature — this same-package alias re-exports it. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
