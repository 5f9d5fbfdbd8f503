package org.apache.spark.sql

/** Test-side view of the session's CacheManager, which Spark keeps behind
  * its own sql package. */
object CachedPlans {
  /** Number of plans the CacheManager holds (persisted, not yet unpersisted). */
  def count(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
