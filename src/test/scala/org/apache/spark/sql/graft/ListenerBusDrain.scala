package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The driver's listener bus is `private[spark]`; this blocks until every
  * event posted so far has reached the listeners, so a spec can count the
  * jobs an action ran as soon as it returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
