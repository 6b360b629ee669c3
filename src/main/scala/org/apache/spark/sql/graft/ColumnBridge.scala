package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}

/** Public bridge over the private[sql] Column ↔ Expression converters. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` as a projection item of a hand-built plan over `spark`,
    * converted and named as `Dataset.select` does it.
    */
  def named(spark: SparkSession, c: Column): NamedExpression =
    ExpressionUtils.toNamed(spark.expression(c))
}
