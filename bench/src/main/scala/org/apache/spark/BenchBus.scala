package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can read its
  * listener counters only after every event posted so far was delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
