package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus drain, so a traced
  * operation's window closes only after every event it caused has been
  * delivered to the benchmark's listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
