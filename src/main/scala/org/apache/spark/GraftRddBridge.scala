package org.apache.spark

import org.apache.spark.rdd.RDD

/** Bridge to Spark's `private[spark]` RDD block release. `RDD.unpersist`
  * logs a WARN for every locally checkpointed RDD ("cannot be
  * recomputed after unpersisting"); graft releases a local cut only
  * once nothing reads it again, so it drops the blocks through the
  * same `SparkContext.unpersistRDD` call without that line.
  */
object GraftRddBridge {
  def dropBlocks(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
