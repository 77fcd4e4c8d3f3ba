package org.apache.spark.sql

/** Test access to the session's cache manager (its count is `private[sql]`). */
object CachedData {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
