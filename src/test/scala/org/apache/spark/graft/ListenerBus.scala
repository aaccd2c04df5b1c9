package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's package-private listener bus: listener events
  * arrive asynchronously, so a spec that counts them first waits until
  * every event posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
