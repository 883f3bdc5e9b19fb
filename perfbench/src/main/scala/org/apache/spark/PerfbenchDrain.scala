package org.apache.spark

/** Bridge into `private[spark]` listener-bus draining: the benchmark reads
  * its listener's counters after each pipeline run, so every posted task
  * and stage event must have been dispatched first.
  */
object PerfbenchDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
