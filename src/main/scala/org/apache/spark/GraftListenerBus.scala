package org.apache.spark

/** Lets [[graft.Harness]] wait for Spark's listener bus to deliver every
  * event posted so far, so that a leg's counters are complete before they
  * are read. `waitUntilEmpty` is `private[spark]`.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
