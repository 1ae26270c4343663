package org.apache.spark.sql.graftaccess

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** Test-only bridge into `private[spark]` and `private[sql]` surfaces: counts the broadcast
  * blocks currently resident in the block manager, so BloomShardsSpec can
  * pin "repeated probe calls accumulate no broadcasts" against the actual
  * storage layer instead of trusting the code's word, and the session's
  * cached plans, so CrawlEngineSpec can pin that a failed crawl or round
  * leaves none behind. */
object GraftTestAccess {
  def broadcastBlockCount(spark: SparkSession): Int =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .size

  /** Plans the session's cache manager holds: one per `persist`, whether
    * or not it has been computed yet. */
  def cachedPlanCount(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
