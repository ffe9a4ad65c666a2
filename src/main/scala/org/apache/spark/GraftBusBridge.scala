package org.apache.spark

/** Package-injection shim (same public technique as rdd.GraftRddBridge):
  * SparkContext.listenerBus is private[spark], and graft.plans.Metrics
  * needs to wait until the bus has delivered every queued event, so a
  * run's final stage events reach its listener before the snapshot. */
object GraftBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
