package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark has no public way to wait for its asynchronous listener bus, so
  * the traced run reaches it from inside the `org.apache.spark` package.
  * Called once, after the measured part of a run.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
