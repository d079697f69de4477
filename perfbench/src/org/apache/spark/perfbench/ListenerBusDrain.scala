package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The bus is asynchronous, so a span's counters are complete only after
  * this returns. Lives in `org.apache.spark` because the bus is
  * package-private there.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
