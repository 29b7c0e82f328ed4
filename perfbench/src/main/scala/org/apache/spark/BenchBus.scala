package org.apache.spark

/** Bridge into `private[spark]` listener-bus state. Listener events arrive
  * asynchronously; the traced run drains the bus before it reads its own
  * listeners' counters, so each counter covers exactly the work it claims.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
