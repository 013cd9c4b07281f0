package org.apache.spark.loadbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `spark` package:
  * counters read after [[drain]] have seen every event posted so far.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
