package org.apache.spark.sql

/** Test bridge: the CacheManager (the registry `Dataset.persist` writes
  * to) is private[sql]; specs read its entry count through this object
  * to check that a call leaves no pinned plan behind.
  */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
