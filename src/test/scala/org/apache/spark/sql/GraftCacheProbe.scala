package org.apache.spark.sql

/** Test-side read of the session's cache registry, which is `private[sql]`:
  * the number of persisted plans, materialized or not.
  */
object GraftCacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
