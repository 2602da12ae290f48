package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Expression↔Column conversion
  * (`org.apache.spark.sql.classic.ExpressionUtils`) for the engine's
  * native expressions (graft.expressions). Spark 4 removed the public
  * `Column(expr)` constructor; this is the standard same-package shim.
  * Also the `private[spark]` count of the session's cached plans, for
  * the leak checks around [[graft.sources.CacheScope]].
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
