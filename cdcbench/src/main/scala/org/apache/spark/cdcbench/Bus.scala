package org.apache.spark.cdcbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the benchmark only needs to wait
  * for it to drain so that counter snapshots are complete.
  */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
