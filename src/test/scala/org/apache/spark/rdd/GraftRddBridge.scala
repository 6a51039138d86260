package org.apache.spark.rdd

/** Test access to `RDD.isLocallyCheckpointed`, which Spark keeps
  * `private[rdd]`: the specs use it to tell localCheckpoint pins apart
  * from cache buffers. */
object GraftRddBridge {
  def isLocallyCheckpointed(rdd: RDD[_]): Boolean = rdd.isLocallyCheckpointed
}
