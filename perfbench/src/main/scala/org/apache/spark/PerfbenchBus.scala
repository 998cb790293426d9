package org.apache.spark

/** Bridge into the private[spark] listener bus. Listener events arrive
  * asynchronously; the traced run drains the bus after each operation
  * so that every job and query execution is booked to the operation
  * that caused it. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
