package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression bridge for the `graft.functions`
  * expressions, which callers use as plain Columns
  * ([[graft.functions.GraftFunctions]], `GroupC.urlNormalize` over
  * [[graft.functions.UrlCanon]]). Spark keeps the conversion
  * `private[sql]`, hence this package (the same one [[TopKPerGroupNode]]
  * lives in).
  */
object ExpressionColumn {
  /** `f` applied to the expression behind `c`, wrapped back as a Column. */
  def map(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))

  /** `f` applied to the expressions behind `a` and `b`. */
  def map(a: Column, b: Column)(f: (Expression, Expression) => Expression): Column =
    ExpressionUtils.column(
      f(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
