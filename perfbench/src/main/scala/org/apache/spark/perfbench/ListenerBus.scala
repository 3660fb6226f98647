package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's bus thread; the traced run drains the
  * bus before it reads what the listener recorded. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
