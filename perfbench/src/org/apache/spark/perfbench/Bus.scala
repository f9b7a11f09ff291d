package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus barrier. Listener events arrive asynchronously; the traced
  * run drains the bus before it reads the numbers the listeners collected.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
