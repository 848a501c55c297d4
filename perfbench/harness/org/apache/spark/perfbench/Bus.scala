package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one listener-bus call the harness needs that Spark
  * keeps package-private: waiting until every posted event has been
  * delivered, so per-query counters are complete before they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
