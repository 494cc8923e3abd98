package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a spec that counts the jobs
  * of one call must wait until every event posted before the call's
  * edge has reached its listener. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
