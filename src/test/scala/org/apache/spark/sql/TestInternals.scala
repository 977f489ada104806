package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test accessors for package-private Spark state. */
object TestInternals {
  /** Block until every posted listener event has been delivered, so a
    * listener's counts are complete when an action returns. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's cache manager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
