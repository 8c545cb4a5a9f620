package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus (`private[spark]`), so the traced run
  * attributes every job, task and query-execution event before it
  * reports. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
