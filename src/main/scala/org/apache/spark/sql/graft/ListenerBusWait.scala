package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Spark keeps its listener bus `private[spark]`; the engine's recorder
  * (`graft.QueryProfile`) waits here until every event posted so far has
  * reached its listener, instead of sleeping. */
object ListenerBusWait {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
