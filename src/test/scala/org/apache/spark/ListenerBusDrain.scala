package org.apache.spark

/** The one `private[spark]` call the write-path specs need: block until
  * every posted listener event has been delivered, so a listener read right
  * after an action has seen that action's jobs and tasks. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
