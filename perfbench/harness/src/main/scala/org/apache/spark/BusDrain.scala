package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
