package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * custom Catalyst expressions need a shim inside the `org.apache.spark
  * .sql` package tree — the standard pattern for Spark extension
  * libraries. The package's one other use of Spark's internals is
  * [[CutStats]], which states a lineage cut's measured size.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
