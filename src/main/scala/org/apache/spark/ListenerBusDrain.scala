package org.apache.spark

/** Waits until the listener bus has delivered every event
  * posted so far, so a listener's counts are complete when read. The bus
  * is package-private to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
