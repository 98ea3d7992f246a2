package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block until
  * every posted listener event has been delivered, so counters read right
  * after an action include that action's jobs, tasks and query events. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
