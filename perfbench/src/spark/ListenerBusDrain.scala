package org.apache.spark

/** The listener bus is `private[spark]`; a traced run must let every
  * queued job/stage/task/plan event reach its listeners before it reads
  * them at a query boundary.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
