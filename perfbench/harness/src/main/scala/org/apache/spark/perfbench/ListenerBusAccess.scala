package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The traced run waits
  * for it to empty at each op boundary, so every event is attributed to
  * the op that caused it. `listenerBus` is private to the spark package. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
