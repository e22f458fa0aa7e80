package org.apache.spark

import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** The two driver internals the harness reads, both `private[spark]`:
  * the listener bus (drained so a span closes only after every event of
  * its jobs has been delivered) and the block manager's block list. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Blocks still held: RDD blocks plus distinct broadcast variables. */
  def heldBlocks(sc: SparkContext): Int = {
    val ids: Seq[BlockId] = SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_ => true, askStorageEndpoints = true)
    ids.count(_.isRDD) + ids.collect { case b: BroadcastBlockId => b.broadcastId }.distinct.size
  }
}
