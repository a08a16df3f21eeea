package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs with a
  * SparkListener wait here until every event posted so far has reached
  * their listener, instead of sleeping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
