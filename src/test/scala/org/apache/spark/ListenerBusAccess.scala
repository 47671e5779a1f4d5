package org.apache.spark

/** Test access to the package-private listener bus. */
object ListenerBusAccess {

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
