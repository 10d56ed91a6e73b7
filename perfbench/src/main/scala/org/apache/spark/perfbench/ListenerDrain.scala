package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * Spark keeps the bus package-private; a traced span calls this before it
  * closes, so the work it caused is counted against it and not a later span.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
