package org.apache.spark

/** The one Spark internal the benchmark needs: waiting until the
  * listener bus has delivered every posted event, so the traced
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
