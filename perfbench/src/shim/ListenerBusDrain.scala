package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is private to Spark, hence this one-line shim in
  * Spark's package; the tracer calls it before reading what its
  * listeners recorded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
