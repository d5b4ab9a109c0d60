package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so a traced
  * operation's counters are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
