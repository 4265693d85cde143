package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the `spark`
  * package: the traced run waits for every queued event after each
  * operation so that listener output lands on the operation that caused
  * it. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
