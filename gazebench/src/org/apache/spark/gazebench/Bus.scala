package org.apache.spark.gazebench

import org.apache.spark.SparkContext

/** The one `private[spark]` hop the benchmark needs: listener events are
  * delivered asynchronously, so a counter read right after an action can
  * miss that action's last task-end events. Draining the bus first makes
  * every per-pass delta complete. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
