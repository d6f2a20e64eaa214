package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's counters only after the bus has drained, and the
  * drain call is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
