package org.apache.spark.sql

/** Specs' view of the session's cache manager, which Spark keeps
  * package-private. */
object TestCacheManager {

  /** How many plans the shared cache manager holds. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
