package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ⇄ Expression
  * conversion (Spark 4 removed the public `new Column(expr)` path when the
  * Column API was unified with Connect). Lives under the
  * `org.apache.spark.sql` namespace solely to gain `private[sql]` access —
  * the standard extension-library pattern; everything else in this project
  * is under `graft.*`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. [[expression]] wraps the
    * column node lazily (`ColumnNodeExpression`), which the Dataset API
    * resolves but the SQL function registry does not — a composite
    * Column registered as a SQL function would reach the analyzer as an
    * untyped node. This converts the whole node tree to catalyst
    * expressions up front (inner functions become `UnresolvedFunction`s
    * the analyzer then resolves normally). */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
