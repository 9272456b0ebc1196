package org.apache.spark

/** Listener-bus flush for the benchmark's recorder; `waitUntilEmpty` is
  * package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
