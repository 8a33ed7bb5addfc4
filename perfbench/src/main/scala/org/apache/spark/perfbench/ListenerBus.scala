package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the harness wait for the asynchronous listener bus, so counters
  * read after an action include that action's events.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
