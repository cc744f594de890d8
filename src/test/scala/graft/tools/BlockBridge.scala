package org.apache.spark.storage

/** Test-only access to the block manager: drops one cached partition of
  * an RDD, as memory pressure would. Package-located for the
  * `private[spark]` BlockManager.
  */
object GraftBlocks {
  def evict(rddId: Int, partition: Int): Unit =
    org.apache.spark.SparkEnv.get.blockManager.removeBlock(RDDBlockId(rddId, partition))
}
