package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of entries in the session's cache manager (`persist`ed
  * plans). Lives in `org.apache.spark.sql` because the count is
  * `private[sql]`. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
