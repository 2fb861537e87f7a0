package org.apache.spark

/** The listener bus's drain is package-private to Spark. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
