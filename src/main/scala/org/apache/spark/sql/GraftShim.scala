package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between `Column` and catalyst `Expression` for custom
  * expressions. Spark 4 made the converters (`classic.ExpressionUtils`)
  * `private[sql]`, so libraries adding native expressions host one tiny
  * accessor inside the `org.apache.spark.sql` package — the conventional
  * pattern for Catalyst-extending libraries.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
