package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and its drain call is
  * package-private to Spark; this object exposes it to the benchmark so
  * counters are read only after every event has arrived. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
