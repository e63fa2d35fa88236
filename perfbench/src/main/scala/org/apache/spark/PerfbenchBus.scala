package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each operation so every task-end event of that operation has been
  * delivered before its span is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
