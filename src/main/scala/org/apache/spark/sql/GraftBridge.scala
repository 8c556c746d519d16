package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to package-private Spark internals: the Column <->
  * Expression converters (Spark 4 made Column node-backed; these are the
  * supported internal accessors), the listener bus drain, the cache
  * manager's entry count and the context's RDD unpersist. Same placement
  * pattern as other libraries that register custom expressions (see
  * SNIPPETS.md [2], [3]). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every queued listener event landed, so a listener's
    * counts are complete. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of Dataset cache entries in the session's cache manager. */
  def cachedEntries(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries

  /** Free an RDD's cached blocks, without `RDD.unpersist`'s warning that
    * a locally checkpointed RDD cannot be recomputed. */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
