package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so a round's
  * listener totals are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
