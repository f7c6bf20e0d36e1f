package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** The two `private[spark]` hooks the benchmark needs: draining the
  * listener bus so counters are complete when a window closes, and
  * telling a local checkpoint apart from a plain cache. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
