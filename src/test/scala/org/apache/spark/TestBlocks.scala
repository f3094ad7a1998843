package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Specs' access to the block manager, which Spark keeps package-private. */
object TestBlocks {

  /** How many blocks of RDD `id` the executors hold. */
  def stored(sc: SparkContext, id: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(`id`, _) => true
      case _ => false
    }, askStorageEndpoints = true).size

  /** Remove every stored block of RDD `id`, as losing the executors that
    * held them would, and wait until they are gone. */
  def removeRdd(sc: SparkContext, id: Int): Unit =
    sc.env.blockManager.master.removeRdd(id, blocking = true)
}
