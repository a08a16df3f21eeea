package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait until every event posted so far has reached its listeners before
  * it reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
