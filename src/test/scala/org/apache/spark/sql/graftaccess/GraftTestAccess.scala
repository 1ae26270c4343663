package org.apache.spark.sql.graftaccess

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** Test-only bridge into `private[spark]` and `private[sql]` surfaces: counts the broadcast
  * blocks currently resident in the block manager, so BloomShardsSpec can
  * pin "repeated probe calls accumulate no broadcasts" against the actual
  * storage layer instead of trusting the code's word, the session's
  * cached plans and persisted RDDs, so CrawlEngineSpec can pin that a
  * failed crawl or round leaves none behind, and an RDD's blocks, so a
  * test can lose them on purpose. */
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

  /** Ids of the RDDs the session's context holds persisted: one per
    * `persist`, whether or not it has been computed yet. The context holds
    * them weakly, so an unreachable leaked RDD drops out at the next GC: a
    * leak shows as a new id, while a count can stay level when an older
    * leak is collected meanwhile. */
  def persistentRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Blocks of RDD `rddId` the block manager holds. */
  def rddBlockCount(rddId: Int): Int =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true)
      .size

  /** Drops every block of RDD `rddId`, as a lost executor would. */
  def removeRddBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
