package org.apache.spark

/** Blocks until every event posted so far has reached every listener,
  * as Spark's own suites do after an action (the bus is private[spark]). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
