package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every event
  * posted so far, so that an operation's metrics are complete before they
  * are read. `waitUntilEmpty` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
