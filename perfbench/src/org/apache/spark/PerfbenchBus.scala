package org.apache.spark

/** The one Spark-internal the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so a phase's job and
  * task records are complete before they are summed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
