package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Accessor for `SparkSession.internalCreateDataFrame`, which Spark 4 keeps
  * `private[sql]`. Lives in the spark.sql package namespace solely to re-export it
  * for graft's Tungsten-level operators (the [[graft.web.PrefixAgg]] fold): wrapping
  * an `RDD[InternalRow]` directly avoids the external-Row decode/encode round trip
  * that `Dataset.mapPartitions` + `Encoders.row` pays on every row. Also re-exports
  * the listener bus's `private[spark]` drain.
  */
object InternalBridge {
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Blocks until every listener event posted so far is delivered; throws after 10 s. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
