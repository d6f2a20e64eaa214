package org.apache.spark

/** The listener bus delivers events asynchronously; tests read their
  * listeners' counters only after the bus has drained, and the drain
  * call is package-private to Spark.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
