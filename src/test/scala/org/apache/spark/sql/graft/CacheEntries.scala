package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only accessor for the private[sql] entry count of the shared
  * CacheManager: the cache-leak specs compare it before and after a
  * call that caches relations of its own.
  */
object CacheEntries {
  def count(s: SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
