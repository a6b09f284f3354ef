package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so counters
  * read right after an operation are complete. `listenerBus` is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
