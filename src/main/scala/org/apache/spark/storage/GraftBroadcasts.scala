package org.apache.spark.storage

import scala.concurrent.Future

import org.apache.spark.SparkContext
import org.apache.spark.storage.BlockManagerMessages.{RemoveBroadcast, UpdateBlockInfo}

/** The broadcasts the driver's block manager holds, and their release
  * (its block table is private to Spark's storage package). */
object GraftBroadcasts {

  /** Ids of the broadcasts with a block in the driver's block manager,
    * read from its in-memory block table. (`getMatchingBlockIds` would
    * also list every file under the local dirs.) */
  def held(sc: SparkContext): Set[Long] =
    sc.env.blockManager.blockInfoManager.entries.collect {
      case (BroadcastBlockId(id, _), _) => id
    }.toSet

  /** Drop the driver's blocks of broadcasts `ids` now; tell the block
    * manager master and, through it, the executors without waiting for
    * them. (`removeBlock(_, tellMaster = true)` would wait on one master
    * round trip per reported block: 6 ms per query-mix key.) */
  def release(sc: SparkContext, ids: Set[Long]): Unit = if (ids.nonEmpty) {
    val bm = sc.env.blockManager
    val master = bm.master.driverEndpoint
    bm.blockInfoManager.entries.collect {
      case (b @ BroadcastBlockId(id, _), info) if ids(id) => (b, info.tellMaster)
    }.toList.foreach { case (b, reported) =>
      bm.removeBlock(b, tellMaster = false)
      if (reported) master.ask[Boolean](UpdateBlockInfo(bm.blockManagerId, b, StorageLevel.NONE, 0L, 0L))
    }
    ids.foreach(id => master.ask[Future[Seq[Int]]](RemoveBroadcast(id, removeFromDriver = false)))
  }
}
