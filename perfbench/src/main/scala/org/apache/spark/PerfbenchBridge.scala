package org.apache.spark

/** Access to the one `private[spark]` hook the benchmark needs. */
object PerfbenchBridge {

  /** Blocks until every posted listener event has been delivered, so task
    * metrics read after an action include all of that action's tasks.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
