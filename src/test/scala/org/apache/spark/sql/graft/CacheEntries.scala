package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's CacheManager — its count is
  * `private[sql]`, hence this bridge under the org.apache.spark.sql
  * package tree (the [[ListenerQuiesce]] pattern).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
