package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each op so every job, task and SQL event of the op has been delivered
  * before the op's spans are written. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
