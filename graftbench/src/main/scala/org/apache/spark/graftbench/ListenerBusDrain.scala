package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run must
  * see every task-end event of a span before it reads the counters, and
  * the bus's own drain is private to the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
