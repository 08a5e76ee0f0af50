package org.apache.spark

/** Blocks until every event posted so far has reached the listeners
  * (`listenerBus` is package-private to Spark). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
