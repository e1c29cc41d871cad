package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events arrive
  * asynchronously, so the traced run drains the bus before it reads what
  * its listener recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
