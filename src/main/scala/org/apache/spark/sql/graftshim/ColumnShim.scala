package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge from a raw Catalyst `Expression` to a user-facing `Column`.
  * Spark 4 made `ExpressionUtils.column` private[sql]; the DataFrame API
  * offers no public equivalent, so — like other DSv2 connectors — this
  * one-liner lives inside Spark's package namespace. This package holds
  * all graft code compiled under org.apache.spark: this bridge and
  * [[SessionShim]]'s session clone and plan rebind. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
