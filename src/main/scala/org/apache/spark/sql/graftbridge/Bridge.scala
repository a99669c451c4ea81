package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Bridge to `private[sql]` Spark internals for graft: the Column <->
  * Expression converters for graft's custom Catalyst expressions, and
  * the session's CacheManager lookup.
  *
  * Spark 4 made these `private[sql]` (e.g.
  * org.apache.spark.sql.classic.ExpressionUtils); extension libraries
  * reach them from an org.apache.spark.sql subpackage — the same access
  * path Spark's own modules use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether the session's CacheManager holds data for a plan
    * semantically equal to `df`'s. */
  def isCached(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
  }
}
