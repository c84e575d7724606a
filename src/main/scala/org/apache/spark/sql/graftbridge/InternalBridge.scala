package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Lives in the spark.sql package namespace solely to re-export the listener bus's
  * `private[spark]` drain.
  */
object InternalBridge {
  /** Blocks until every listener event posted so far is delivered; throws after 10 s. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
