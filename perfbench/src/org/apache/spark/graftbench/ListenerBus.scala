package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the traced run must see every task-end event before it sums them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
