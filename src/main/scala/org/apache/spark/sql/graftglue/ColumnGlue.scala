package org.apache.spark.sql
package graftglue

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` / `Column.expr` bridge in
  * favor of ColumnNode. This glue lives in a subpackage of
  * `org.apache.spark.sql` solely to reach the `private[sql]`
  * `classic.ExpressionUtils`, so graft's custom Catalyst expressions can be
  * exposed as user-facing `Column`s, and to reach the listener bus for
  * `graft.Bench`'s job ledger. No Spark internals are modified.
  */
object ColumnGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion. `expression` wraps non-
    * trivial Column trees in a lazily-resolved `ColumnNodeExpression`,
    * which only the Dataset API boundary converts; an expression
    * returned from a FunctionRegistry builder never crosses that
    * boundary and would reach codegen unresolved. This converts the
    * node tree to catalyst immediately (standard unresolved functions
    * the analyzer then resolves in place).
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A DataFrame over an analyzed logical plan (`Dataset.ofRows` is
    * `private[sql]`). Lets graft rebuild the document frame underneath
    * a detected shred plan (Shred.unshredSource).
    */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The listeners of class `T` registered on `sc`
    * (`SparkContext.listenerBus` is `private[spark]`), so a harness can
    * install its listener once per context.
    */
  def listeners[T <: org.apache.spark.scheduler.SparkListenerInterface
      : scala.reflect.ClassTag](sc: org.apache.spark.SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  /** Blocks until every event posted to `sc`'s listeners so far has
    * been delivered.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
