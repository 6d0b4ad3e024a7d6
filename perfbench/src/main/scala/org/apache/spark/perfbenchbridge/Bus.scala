package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a counter read right
  * after an action may miss that action's last stages. Waiting for the
  * bus to drain makes per-pass counters exact.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
