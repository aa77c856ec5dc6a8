package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** The bytes the driver's block manager master records for an RDD's
  * blocks, counting each partition's largest copy once, or None when a
  * partition has no block. Read through `getStorageStatus`, a different
  * call from the one the engine makes. The master is private to Spark,
  * hence this package.
  */
object StoredBytes {
  def of(rdd: RDD[_]): Option[Long] = {
    val perPartition = rdd.sparkContext.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, split), s) if id == rdd.id => split -> (s.memSize + s.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(math.max)
    if (perPartition.size == rdd.partitions.length) Some(perPartition.values.sum) else None
  }
}
