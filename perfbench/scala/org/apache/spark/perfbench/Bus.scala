package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous listener bus; the
  * probe waits for it to drain before attributing events to the
  * operation that caused them. `waitUntilEmpty` is Spark-internal, hence
  * this shim in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
