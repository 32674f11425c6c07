package org.apache.spark

/** The benchmark's one use of Spark-internal API: waiting until the
  * listener bus has delivered every queued event, so per-operation
  * counters are complete before they are read. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
