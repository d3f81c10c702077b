package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The one `private[spark]` hop the specs need: listener events arrive
  * asynchronously, so a listener's counter read right after an action can
  * miss that action's events. Draining the bus first makes it complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
