package org.apache.spark

/** Access to the package-private listener bus: the traced run drains it
  * before reading listener counts, so every job, stage and task event of
  * a finished action has been delivered (no fixed sleep). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
