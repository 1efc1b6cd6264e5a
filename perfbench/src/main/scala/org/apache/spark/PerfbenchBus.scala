package org.apache.spark

/** Listener-bus access for the benchmark's trace: events reach listeners
  * asynchronously, so per-operation counters are read only after the bus
  * has delivered everything posted so far. `waitUntilEmpty` is
  * `private[spark]`, hence this object's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
