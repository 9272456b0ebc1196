package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge to the session cache's entry count, which is `private[sql]` in
  * Spark 4. [[graft.util.Staged]] reads it around a staged build to hold
  * the build to its no-new-pin rule.
  */
object CacheBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
