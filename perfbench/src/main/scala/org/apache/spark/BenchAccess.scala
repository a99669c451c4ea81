package org.apache.spark

/** The one Spark-internal call the benchmark needs: the listener bus is
  * asynchronous, so counters read right after an action may miss its
  * last task events unless the bus is drained first.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
