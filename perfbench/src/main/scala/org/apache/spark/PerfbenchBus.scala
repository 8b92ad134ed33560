package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * trace read right after an action sees all of that action's jobs,
  * stages and tasks. The wait is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
