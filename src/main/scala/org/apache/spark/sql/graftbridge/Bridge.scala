package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.lit

/** Minimal bridge to the `private[sql]` Column ⇄ Expression converters —
  * the supported pattern for registering custom Catalyst expressions from
  * an external library without a SparkSessionExtensions round-trip. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The `k` smallest non-null values of `c`, ascending, as one array:
    * Spark's internal `collect_top_k` aggregate (`CollectTopK`, whose case
    * class is `private[catalyst]`). Each task keeps a bounded priority
    * queue of `k` values and the queues merge on the driver, as
    * `orderBy(...).limit(k)` does through `takeOrdered`, so no more than
    * `k` values are held per task. Usable in `agg` and in `observe`. */
  def collectSmallest(c: Column, k: Int): Column =
    Column.internalFn("collect_top_k", c, lit(k), lit(true))
}
