package org.apache.spark.sql

/** Test-only bridge into the `private[sql]` CacheManager entry count:
  * how many frames the session's cache holds, one per distinct plan. */
object GraftTestCache {
  def entries(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries
}
