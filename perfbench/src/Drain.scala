package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run drains it before
  * reading its counters, so every task-end event of the measured work is
  * counted instead of racing the bus thread. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
