package org.apache.spark

/** Lets the traced run wait until the listener has seen every event
  * of a pass before it reads the pass's job records. */
object SyncBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
