package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; before counters are read
  * the benchmark waits until every queued event has reached its listeners.
  * `waitUntilEmpty` is scoped to the `spark` package, hence this bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
