package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of plans registered in Spark's CacheManager
  * (`numCachedEntries` is private[sql]; this lives under spark.sql for
  * access).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
