package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Visibility shim for specs: the CacheManager's entry count is
  * `private[sql]`, and a lifecycle check must see entries no caller holds
  * a reference to (an operator's internal pins). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
