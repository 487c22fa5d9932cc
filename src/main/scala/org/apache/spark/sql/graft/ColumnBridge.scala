package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one sanctioned crossing between a raw Catalyst [[Expression]]
  * and a user-facing [[Column]], in both directions. Spark 4 split
  * Column off the Catalyst tree (Spark-Connect-compatible ColumnNodes)
  * and made the classic bridge (`classic.ExpressionUtils`)
  * `private[sql]`, so a library shipping native expressions —
  * graft.functions.TopCells is built with a runtime codebook object,
  * which no SQL-string registration path can carry, and
  * graft.functions.Kernels wraps every other kernel around its argument
  * columns — needs this minimal accessor inside an
  * `org.apache.spark.sql` subpackage. This is the established idiom
  * for Spark-native extension libraries (frameless, spark-daria, and
  * MLlib-adjacent packages cross the same way); everything else in
  * this repo stays in the public API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
