package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The bridge between graft's native Catalyst expressions and the
  * `Column` API. Spark keeps `ExpressionUtils.column`/`expression`
  * `private[sql]`, so this shim lives in an `org.apache.spark.sql`
  * package. Each kernel companion's typed constructor
  * (`CosineSimilarity.of(a, b)`, ...) builds its node with these two
  * calls, so library code never writes a session's function registry. */
object NativeColumn {

  /** Wrap a (possibly unresolved) expression node as a Column. */
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The expression a Column stands for, to use as a kernel's child. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
