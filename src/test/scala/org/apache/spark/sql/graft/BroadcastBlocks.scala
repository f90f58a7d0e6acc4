package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BroadcastBlockId

/** The ids of the broadcast variables whose value the driver's block
  * manager still holds — its block store is `private[spark]`, hence
  * this bridge under the org.apache.spark package tree (the
  * [[CacheEntries]] pattern). The scheduler's task binaries (one
  * `Array[Byte]` broadcast per stage, freed by the ContextCleaner once
  * the stage is garbage) are left out: no caller can destroy them.
  */
object BroadcastBlocks {
  def apply(spark: SparkSession): Set[Long] = {
    val bm = spark.sparkContext.env.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case id @ BroadcastBlockId(b, "") if !bm.memoryStore.getValues(id)
        .exists(_.toSeq.headOption.exists(_.isInstanceOf[Array[Byte]])) => b
    }.toSet
  }
}
