package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced span's task metrics are complete before they are read. The bus
  * is `private[spark]`; this one-line shim lives in its package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
