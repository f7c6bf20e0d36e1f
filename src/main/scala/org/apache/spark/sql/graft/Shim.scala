package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made this conversion
  * `private[sql]` (Column wraps a ColumnNode, not an Expression), so
  * custom Catalyst expressions need this one-file shim living inside the
  * `org.apache.spark.sql` package namespace — the standard pattern for
  * third-party Catalyst extensions.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's FunctionRegistry (private[sql] in Spark 4) so native
    * expressions can be registered on an already-built session. */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.sessionState.functionRegistry

  /** Build a sibling SparkSession on an existing SparkContext with a
    * [[org.apache.spark.sql.SparkSessionExtensions]] populated by `f` —
    * semantically what `spark.sql.extensions=<class>` does at session
    * build. That static conf is read from the SparkContext and cannot
    * take effect on an already-running context, so exercising the
    * injected-extension path (vs GraftExtensions.install's live-session
    * registration) needs the private[sql] session constructor. */
  def sessionWithExtensions(spark: org.apache.spark.sql.SparkSession,
      f: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.classic.SparkSession.builder()
      .sparkContext(spark.sparkContext)
      .withExtensions(f)
      .create()

  /** A child of `spark` (`cloneSession` is private[sql]): it copies the
    * parent's conf, temp views and registered functions, shares its
    * SparkContext and cache manager, and its own conf writes never
    * reach the parent. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Wrap a custom LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — needed by the graft.plans custom operators. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
