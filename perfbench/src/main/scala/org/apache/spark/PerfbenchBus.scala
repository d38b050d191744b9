package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, which is
  * `private[spark]`: the benchmark must see every event of an op before it
  * reads the op's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
