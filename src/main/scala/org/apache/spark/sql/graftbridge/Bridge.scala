package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Tiny bridge into the private[sql] Column <-> catalyst Expression
  * converters (Spark 4 moved Column onto ColumnNode; third-party
  * expression libraries reach the classic path through a same-package
  * shim like this). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
