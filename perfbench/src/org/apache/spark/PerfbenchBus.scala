package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * trace is read only after its last job, stage and task events landed.
  * It lives in this package because the listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
