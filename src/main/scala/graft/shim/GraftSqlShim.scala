package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

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

  /** Rows the driver holds, laid out by `schema`, as a DataFrame over a
    * bare `LocalRelation`: it runs no job and takes no pin. */
  def localRelation(spark: SparkSession, schema: StructType,
                    rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A DataFrame over an RDD of rows already in Spark's internal form,
    * laid out by `schema`. */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow],
                     schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df`'s rows in Spark's internal form, collected as `collect()`
    * collects them but without converting each into an external `Row`
    * (boxed elements for every array). */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** `AbstractDataType` is `private[sql]` at the Scala level; extensions
    * implementing ExpectsInputTypes need to NAME it in the inputTypes
    * signature — this same-package alias re-exports it. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
