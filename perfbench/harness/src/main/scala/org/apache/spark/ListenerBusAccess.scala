package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener counters read after an op include all of that op's tasks.
  * The bus is private to Spark; this accessor lives in its package.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
