package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test bridge: the driver's block manager is private[spark]; specs read
  * the values of the broadcast variables it still holds through this
  * object, to check that a call leaves no broadcast of its own behind.
  */
object BroadcastProbe {
  def liveValues(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList))
  }
}
