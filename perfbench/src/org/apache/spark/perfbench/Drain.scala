package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`: a reader of listener-accumulated
  * counts must flush in-flight events first, or the read races the bus. */
object Drain {
  def listeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
