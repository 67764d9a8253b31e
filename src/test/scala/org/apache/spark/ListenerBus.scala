package org.apache.spark

/** Test access to Spark's listener bus: wait until every event posted so
  * far has reached the listeners, so a spec can assert on them.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
