package org.apache.spark

/** Test access to the driver's listener bus, which is private to Spark:
  * a spec that counts events with its own `SparkListener` waits here
  * until every event posted so far has been delivered. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
