package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration

/** Test reads of Spark's private[spark] state. */
object GraftTestAccess {
  /** The ids of the broadcasts the driver's block manager holds. */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  /** The ids of the driver's broadcasts whose value is a Hadoop conf. */
  def confBroadcasts(sc: SparkContext): Set[Long] = broadcastIds(sc).filter { id =>
    sc.env.blockManager.memoryStore.getValues(BroadcastBlockId(id))
      .exists(_.exists(_.isInstanceOf[SerializableConfiguration]))
  }

  /** Wait until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
