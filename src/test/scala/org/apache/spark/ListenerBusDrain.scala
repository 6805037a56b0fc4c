package org.apache.spark

/** Test access to the listener bus drain, which Spark exposes only inside
  * its own package: a spec counting listener events must see every event
  * of the work it measured before it reads the counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
