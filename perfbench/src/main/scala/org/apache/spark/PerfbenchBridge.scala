package org.apache.spark

/** Access to the listener bus, which is private to the `spark` package:
  * the benchmark drains it before reading its listeners' records, so every
  * job and task event of the run has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
