package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** Reads the session's cache-entry count, which Spark keeps package-private. */
object CacheEntries {
  def count(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
