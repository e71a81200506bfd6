package org.apache.spark

/** The listener bus is package-private; the traced run needs it drained
  * before it reads what its listener recorded.
  */
object CdcBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
