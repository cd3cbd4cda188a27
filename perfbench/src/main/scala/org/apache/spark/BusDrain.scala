package org.apache.spark

/** Waits until every event posted so far has reached every registered
  * listener. Listener delivery is asynchronous, so the benchmark drains
  * the bus before it reads a collector's totals. The bus is
  * `private[spark]`; this one-line bridge is the only code that needs
  * to live in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
