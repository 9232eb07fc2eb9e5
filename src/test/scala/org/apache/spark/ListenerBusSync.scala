package org.apache.spark

/** Test access to the private listener bus: blocks until every event
  * posted so far has reached every listener, so a listener's counts
  * can be read right after the action that produced them.
  */
object ListenerBusSync {
  def await(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
