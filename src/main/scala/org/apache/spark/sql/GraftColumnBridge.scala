package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into the classic Column internals (private[sql] in Spark 4) for
  * graft's custom Catalyst expressions. Standard extension-library
  * technique: the only two operations needed are Column ↔ Expression. */
object GraftColumnBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** The Catalyst tree of a composed Column, converted now rather than
    * when a Dataset plans it — for expressions handed to the analyzer
    * directly, such as a SQL function builder's result. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
