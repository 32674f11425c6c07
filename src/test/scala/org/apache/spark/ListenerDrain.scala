package org.apache.spark

/** Test access to Spark's listener bus: a spec that counts what its
  * listeners saw drains the bus first, so every event of the action it
  * ran has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
