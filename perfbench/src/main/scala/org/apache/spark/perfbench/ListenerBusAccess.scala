package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span's task metrics
  * and query plans are complete only once it has drained. `listenerBus` is
  * `private[spark]`, hence this accessor's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
