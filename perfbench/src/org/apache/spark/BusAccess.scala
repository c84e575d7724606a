package org.apache.spark

/** Listener events reach listeners asynchronously; a span boundary must see every
  * event its jobs posted, so the tracer drains the bus first. The bus is
  * Spark-internal, hence this shim in Spark's package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
