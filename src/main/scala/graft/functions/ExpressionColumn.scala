package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression bridge for the `graft.functions`
  * expressions that callers use as plain Columns with no registered
  * session (`GroupC.urlNormalize` over [[graft.functions.UrlCanon]]).
  * Spark keeps the conversion `private[sql]`, hence this package (the
  * same one [[TopKPerGroupNode]] lives in).
  */
object ExpressionColumn {
  /** `f` applied to the expression behind `c`, wrapped back as a Column. */
  def map(c: Column)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(ExpressionUtils.expression(c)))
}
