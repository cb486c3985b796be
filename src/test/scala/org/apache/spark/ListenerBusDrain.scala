package org.apache.spark

/** Test access to the listener bus, which is private to Spark: listener
  * events are delivered asynchronously, so a spec that counts jobs must
  * wait for the bus to drain before it reads its count.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
