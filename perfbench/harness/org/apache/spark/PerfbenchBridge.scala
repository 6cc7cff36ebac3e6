package org.apache.spark

/** Reaches the listener bus, which is private to the `org.apache.spark`
  * package: the harness waits for every posted event to be delivered before
  * it reads what its listeners counted.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
