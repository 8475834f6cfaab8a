package org.apache.spark.sql.graftaccess

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** What the storage specs read of the session's block storage. */
object SessionStorage {
  /** RDDs holding a stored block, per the block manager master (kept
    * synchronously, unlike the listener-fed getRDDStorageInfo). */
  def storedRddIds(): Set[Int] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = false)
      .collect { case b: RDDBlockId => b.rddId }.toSet

  /** The user frames of the stack that created an RDD. */
  def creationStack(rdd: RDD[_]): String = rdd.creationSite.longForm
}
