package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * per-layer counters are read only after every posted event has landed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
