package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Re-exposes the `private[spark]` listener-bus drain: task-end events are
  * delivered asynchronously, so a pass's task metrics are complete only after
  * the bus has delivered everything posted before the action returned.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
