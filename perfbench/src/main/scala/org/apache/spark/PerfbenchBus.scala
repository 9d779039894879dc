package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener-side counters are complete when a traced pass is summed. The
  * bus is `private[spark]`, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
