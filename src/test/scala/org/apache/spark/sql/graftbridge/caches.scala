package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, SparkSession}

object caches {
  /** Entries in the cache manager the session shares with its context. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
