package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * tracer's counters are complete before a traced round is read out.
  * Lives in this package because the wait is Spark-internal API. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
