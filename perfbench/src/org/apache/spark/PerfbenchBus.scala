package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark's accounting
  * needs it to read its listener only after every event of a run has
  * been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
