package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so a
  * traced operation's job, stage and SQL events are all delivered before
  * its spans are summarized (no fixed sleep). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
