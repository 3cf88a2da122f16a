package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * delivered every event posted so far.
  */
object PlatbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
