package org.apache.spark

/** The context's listener bus is `private[spark]`: specs that count
  * listener events wait here until every event posted so far is delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
