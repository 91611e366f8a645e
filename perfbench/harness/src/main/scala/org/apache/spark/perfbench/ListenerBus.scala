package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners. The
  * listener bus is asynchronous and its drain is `private[spark]`, so this
  * one-method shim lives inside the `org.apache.spark` package tree. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
