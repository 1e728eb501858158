package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  /** True if the queue emptied within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
