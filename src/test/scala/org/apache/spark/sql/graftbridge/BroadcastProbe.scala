package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** Test-side views of Spark's `private[spark]` broadcast and listener
  * state: which broadcast values the block managers still hold, and a
  * barrier for the asynchronous listener bus. */
object BroadcastProbe {

  /** Ids of the broadcasts whose value block is still stored. */
  def liveIds(): Set[Long] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case BroadcastBlockId(_, "") => true
      case _ => false
    }, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  /** Class names of the driver-local values of broadcasts `ids`. */
  def valueClasses(ids: Set[Long]): Set[String] =
    ids.flatMap(id => SparkEnv.get.blockManager
      .getLocalValues(BroadcastBlockId(id)).toSeq
      .flatMap(_.data.toList).map(_.getClass.getName))

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
