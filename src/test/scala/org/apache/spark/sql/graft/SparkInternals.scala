package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to Spark state that only code under org.apache.spark sees. */
object SparkInternals {

  /** Plans currently held by the session's CacheManager. */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Block until every event posted so far reached the listeners. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
