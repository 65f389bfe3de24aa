package org.apache.spark

/** The one package-private hook the benchmark's trace needs: waiting until
  * the listener bus has delivered every posted event, so counters read
  * after a unit of work are complete. */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
