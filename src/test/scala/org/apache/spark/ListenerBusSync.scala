package org.apache.spark

/** The listener bus delivers events asynchronously; a test that counts
  * jobs with a `SparkListener` waits for the bus to empty before reading
  * the count. `listenerBus` is private to the spark package. */
object ListenerBusSync {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
