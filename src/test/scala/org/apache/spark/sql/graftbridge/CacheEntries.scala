package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The relations a session's CacheManager holds; the count is
  * `private[sql]`.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
