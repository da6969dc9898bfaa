package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** The entries of the CacheManager every session of a context shares. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
