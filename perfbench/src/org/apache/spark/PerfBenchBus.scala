package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a pass's trace is complete before it is summarised
  * (`LiveListenerBus.waitUntilEmpty` is package-private). */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
