package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so the layer
  * counters read after a measured phase include all of its jobs. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
