package org.apache.spark.sql

/** The number of frames the session's CacheManager holds (package-private
  * in Spark).
  */
object CachedFrames {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
