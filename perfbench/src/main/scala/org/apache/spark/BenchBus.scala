package org.apache.spark

/** Drains the listener bus so the traced run reads complete counters
  * (`listenerBus` is `private[spark]`).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
