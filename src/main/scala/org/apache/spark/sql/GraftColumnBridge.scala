package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column constructor so graft's native
  * Catalyst expressions can be used as ordinary `Column`s from the public
  * DataFrame API. The standard pattern for Spark-native extension libraries
  * (Spark 4 routes Column building through `classic.ExpressionUtils`).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True iff the column was built with `.desc`/`.desc_nulls_*` — i.e. its
    * node is a descending SortOrder. Spark 4 defers sort-order wrapping to
    * an internal ColumnNode, so callers validating "ascending only"
    * contracts (ops/Ranking) can't see it through `expression` before
    * analysis.
    */
  def isDescending(c: Column): Boolean = c.node match {
    case s: internal.SortOrder =>
      s.sortDirection == internal.SortOrder.Descending
    case _ => false
  }

  /** True iff the column carries ANY explicit sort-order wrapper
    * (`.asc*`/`.desc*`). Callers deriving a numeric range proxy from an
    * order column (ops/Ranking's packed default) need the UNWRAPPED
    * expression; a wrapped head simply skips the refinement.
    */
  def isSortWrapped(c: Column): Boolean =
    c.node.isInstanceOf[internal.SortOrder]

  /** Build a DataFrame over a logical plan (e.g. a subtree an optimizer
    * rule re-plans through the DataFrame API) in the active classic session.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session over the same SparkContext with NO injected extensions —
    * test-only: simulates an external harness that builds its own session
    * (`newSession()` can't, it propagates the parent's extensions).
    */
  def bareSession(spark: SparkSession): SparkSession =
    new classic.SparkSession(
      spark.asInstanceOf[classic.SparkSession].sparkContext)
}
