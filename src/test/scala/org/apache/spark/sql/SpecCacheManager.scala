package org.apache.spark.sql

/** The number of entries in the session-shared CacheManager (one per
  * persisted plan), for specs that check nothing outlives a release. */
object SpecCacheManager {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
