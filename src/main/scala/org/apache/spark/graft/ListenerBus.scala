package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `spark`
  * package: a listener read after [[drain]] has seen every event posted
  * so far.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
