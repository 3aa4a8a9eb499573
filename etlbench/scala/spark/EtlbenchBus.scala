package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer needs it
  * to know every event of a traced pass has been delivered. */
object EtlbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
