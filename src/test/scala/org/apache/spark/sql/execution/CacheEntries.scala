package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Test probe: how many frames the session's CacheManager holds (the count
  * is package-private to Spark). */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
