package org.apache.spark

/** Blocks until every event posted so far has reached the listeners. The
  * traced mode needs this before it reads its listener or removes it; the
  * bus itself is private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
