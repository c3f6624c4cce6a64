package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion (the sanctioned
  * escape hatch for engines extending Catalyst from outside Spark's
  * namespace; lives in a subpackage of org.apache.spark.sql purely for
  * access, contains no Spark-internal logic).
  */
object Shim {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column→catalyst conversion via the session's converter.
    * `ExpressionUtils.expression` wraps the column AST lazily; the wrapper
    * leaks non-serializable sql.internal nodes into any plan that stores the
    * result (e.g. custom operators), so custom plans must use this form.
    */
  def catalystExpression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Float/double canonicalization (-0.0 → 0.0, canonical NaN) for
    * expressions used as grouping/partitioning keys in custom operators —
    * the `NormalizeFloatingNumbers` optimizer rule only rewrites builtin
    * operators it knows about.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Waits until every listener event posted so far is delivered; throws after a minute. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
