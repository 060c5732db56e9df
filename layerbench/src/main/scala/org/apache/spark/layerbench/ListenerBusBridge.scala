package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Drains the asynchronous listener bus so counters read after a timed
  * operation include every event it posted. `listenerBus` is
  * `private[spark]`, hence this file's package.
  */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
