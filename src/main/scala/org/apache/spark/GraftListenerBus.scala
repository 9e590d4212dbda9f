package org.apache.spark

/** Bridge to the `private[spark]` listener bus: [[graft.TaskMeter]]
  * drains it so a read right after an action sees every task event of
  * that action, with no settle sleep.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
