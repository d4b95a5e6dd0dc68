package org.apache.spark

/** Waits until the listener bus has delivered every posted event (the
  * bus is private to the spark package), so a test's listener has seen
  * every job its calls ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
