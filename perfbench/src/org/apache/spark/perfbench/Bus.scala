package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: the traced run
  * attributes listener events to the op that caused them by draining
  * the bus at each layer boundary. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
