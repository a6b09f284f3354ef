package org.apache.spark.sql

import org.apache.spark.sql.execution.CacheManager

/** The number of relations registered in a session's cache manager
  * (`numCachedEntries` is package-private to Spark SQL).
  */
object CachedEntries {
  def apply(cache: CacheManager): Int = cache.numCachedEntries
}
