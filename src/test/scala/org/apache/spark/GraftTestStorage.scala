package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Driver storage as Spark's private storage layer sees it. */
object GraftTestStorage {

  /** The driver's storage memory in use, as its memory manager counts it
    * (every block in the memory store, reported to the master or not). */
  def storageUsed(sc: SparkContext): Long = sc.env.memoryManager.storageMemoryUsed

  /** Ids of the broadcasts the block manager master lists a block of. */
  def masterBroadcasts(sc: SparkContext): Set[Long] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = false)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
