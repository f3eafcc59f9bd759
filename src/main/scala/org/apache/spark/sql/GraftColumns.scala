package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's native Catalyst expressions and the public
  * [[Column]] API (the `ExpressionUtils` conversions are `private[sql]`,
  * so this forwarder lives in the `org.apache.spark.sql` package — the
  * standard technique for extension libraries that define their own
  * expressions).
  *
  * graft builds Columns from expressions DIRECTLY at the use site rather
  * than installing named functions into a session registry and calling
  * `call_function`: a registry install on `SparkSession.active` silently
  * misses when a multi-session application analyzes the frame in a
  * different session, while a directly-embedded expression resolves in
  * whatever session runs the plan. (SQL-surface registration via
  * [[graft.plans.GraftExtensions]] remains for `spark.sql(...)` users.) */
object GraftColumns {
  def columnOf(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
