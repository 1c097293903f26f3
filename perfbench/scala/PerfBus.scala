// Two reads of Spark internals the benchmark needs and Spark keeps
// package-private; each lives in the package that may see it.

package org.apache.spark {
  /** Waits until every queued listener event has been delivered, so a
    * span's counters are complete when it closes. */
  object PerfBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  /** Number of cached relations left in the session's CacheManager. */
  object PerfCache {
    def entries(spark: SparkSession): Int =
      spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
  }
}
