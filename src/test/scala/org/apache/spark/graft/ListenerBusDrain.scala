package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is private to Spark, hence this shim in Spark's
  * package; specs call it before reading what their listeners recorded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
