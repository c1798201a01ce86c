package org.apache.spark.calvinbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark reads complete listener counts at the end of a phase.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
