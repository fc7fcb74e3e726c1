package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test view of the driver's block manager (a package-private surface). */
object BlockProbe {

  /** Broadcast ids whose deserialized value the driver's block manager
    * holds, with the value's class name.
    */
  def broadcastValues(): Map[Long, String] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case id: BroadcastBlockId if id.field.isEmpty => id
    }.flatMap { id =>
      bm.getLocalValues(id).map { r =>
        try id.broadcastId -> r.data.next().getClass.getName
        finally bm.releaseLock(id)
      }
    }.toMap
  }
}
