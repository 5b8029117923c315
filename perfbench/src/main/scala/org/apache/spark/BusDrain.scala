package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. Task-end and query-end events arrive asynchronously, so a
  * counter read right after an action can miss the action's last tasks;
  * draining the bus first makes each per-pass reading complete. Lives in
  * this package because the bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
