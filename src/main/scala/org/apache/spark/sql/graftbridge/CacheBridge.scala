package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Caches a frame's plan with its output partitioning left to AQE.
  *
  * Spark builds a cached plan on a clone of the caller's session with
  * AQE off unless `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * is on, so a cached frame over a shuffle keeps every one of
  * `spark.sql.shuffle.partitions` partitions, and every stage that scans
  * it runs that many tasks. Here the plan is cached through a clone of
  * the frame's session with that conf on: the entry lands in the shared
  * cache manager (every session of the context sees it, keyed by plan as
  * usual), its shuffles coalesce to the advisory size, and the caller's
  * session conf is never written. `SparkSession.cloneSession` is
  * `private[sql]`, hence this file's package. Lazy like
  * `Dataset.persist`: nothing runs until a consumer reads the entry.
  */
object CacheBridge {
  def persist(df: DataFrame): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val scoped = session.cloneSession()
    scoped.sessionState.conf.setConf(
      SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING, true)
    session.sharedState.cacheManager.cacheQuery(scoped,
      df.queryExecution.analyzed, None, StorageLevel.MEMORY_AND_DISK)
  }
}
