package org.apache.spark

/** The listener bus delivers events asynchronously. The traced run drains
  * it before reading what its listener recorded, so that no task or stage
  * of a finished call is still in flight. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
