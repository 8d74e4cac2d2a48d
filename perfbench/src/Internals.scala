package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two engine internals the benchmark reads. */
object Internals {
  /** Waits until the listener bus has delivered every posted event, so the
    * benchmark's listener counters are complete when they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's cache manager. */
  def cacheEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
