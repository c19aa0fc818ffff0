package org.apache.spark

/** Listener events arrive asynchronously; the traced run drains the bus
  * before it reads its listener's totals. `listenerBus` is
  * `private[spark]`, hence this accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
