package org.apache.spark

/** Reaches the package-private listener bus so a spec can read its
  * listener's counters only after every event posted so far was delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
