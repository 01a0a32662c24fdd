package org.apache.spark

/** Blocks until every queued listener event has been delivered. The bus is
  * `private[spark]`, hence this one-line shim in Spark's package: the
  * tracer reads its listener's counts only after the bus is empty, so no
  * job, task or stream-progress event of an op is still in flight.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
