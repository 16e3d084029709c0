package org.apache.spark

/** Access to the one `private[spark]` call the traced run needs: wait
  * until the listener bus has delivered every queued event, so the
  * counters read at the end of a run are complete. */
object NhlbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
