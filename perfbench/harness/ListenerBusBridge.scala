package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced span must wait until
  * every event posted before its edge reached the benchmark's listener. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
