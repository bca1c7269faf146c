package org.apache.spark

/** The listener bus delivers events asynchronously; specs that count
  * what a listener saw drain it first, so no event of a finished call is
  * still in flight. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
