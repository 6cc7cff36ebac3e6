package org.apache.spark

/** Reaches the listener bus, which is private to the `org.apache.spark`
  * package, so a test can wait until every posted event has been delivered
  * before it reads what its listener counted.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
