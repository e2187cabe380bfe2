package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column ⇄ Expression converters and
  * `Dataset.ofRows`.
  *
  * Spark 4 routes the Column API through ColumnNode; building a Column
  * from a custom Catalyst `Expression` goes via
  * `classic.ExpressionUtils`, which is `private[sql]` — this shim lives
  * in the sql package purely to re-export those internals to graft.
  * Living under `org.apache.spark.sql` is the established pattern for
  * Spark extensions that inject custom plan nodes (Delta, Qbeast and
  * Iceberg ship the same bridge); nothing else internal is touched.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Turn a hand-built `LogicalPlan` (graft's AS-OF join node, a SQL
    * MERGE source) into a `DataFrame`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's canonical DIVIDE_BY_ZERO (SQLSTATE 22012) — thrown by the
    * native cosine kernel under ANSI exactly as `Divide` would; the error
    * factory is `private[sql]`, hence this re-export (also called from
    * generated code, so it must stay a static-forwardable method).
    */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
}
