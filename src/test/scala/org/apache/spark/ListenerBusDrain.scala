package org.apache.spark

/** Test-only access to the listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached every listener,
  * as Spark's own suites do after an action.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
