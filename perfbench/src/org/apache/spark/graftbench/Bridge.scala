package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the one `private[spark]` call the tracer needs: waiting until
  * the listener bus has delivered every event already posted, so a
  * traced window's task metrics are complete before they are summed. */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
