package org.apache.spark

/** Spark delivers listener events (QueryExecutionListener callbacks
  * included) asynchronously; specs that count events wait for the bus
  * here. The bus is package-private to Spark, hence this file's
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
