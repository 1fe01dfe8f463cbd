package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the package-private Column↔Expression conversions in Spark 4
  * (the classic Column wraps a ColumnNode, not an Expression). Standard
  * pattern for libraries contributing native Catalyst expressions. */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** A resolved `e` with its floating-point values as grouping compares
    * them (-0.0 as 0.0, one NaN). */
  def groupingForm(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
