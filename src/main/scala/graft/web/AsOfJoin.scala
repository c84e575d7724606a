package graft.web

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of / backfill) join: for every left row `(key, ts)` attach the
  * latest right row with `right_ts <= ts` (`< ts` when `strict`) — the north-rule
  * operator with zero temporal leakage by construction (a window can only look
  * backward in event time).
  *
  * One strategy: union-tag + ordered window. ONE shuffle on the key, one sort —
  * equivalent to a sort-merge as-of; Catalyst/Tungsten handle spilling. Each key is
  * one window partition, so a hot key (one url with millions of snapshots) is one
  * task; splitting hot keys into sampled ranges is an open item (ROADMAP item 12),
  * not something this operator handles.
  *
  * No reference counterpart (the reference has no joins); semantics follow the
  * standard as-of contract (DuckDB ASOF JOIN is the test oracle). One deliberate
  * deviation from SQL equality joins: NULL keys group together (window-partition
  * semantics) — enforced by AsOfPropertySpec's null-key generator.
  */
object AsOfJoin {

  /** @param valueCols right columns to attach (null when no match)
    * @param tolerance max allowed `ts - right_ts` in seconds; matches older than this
    *                  are nulled out
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      leftTs: String,
      rightKeys: Seq[String],
      rightTs: String,
      valueCols: Seq[String],
      strict: Boolean = false,
      tolerance: Option[Long] = None): DataFrame = {
    require(leftKeys.size == rightKeys.size)
    val keyNames = leftKeys
    val lCols = left.columns.toSeq

    // left rows must see right rows at the same timestamp when inclusive (right
    // sorts first) and must not when strict (left sorts first)
    val (leftTag, rightTag) = if (strict) (0, 1) else (1, 0)

    val rightPacked = right.select(
      rightKeys.zip(keyNames).map { case (r, l) => col(r).as(l) } ++ Seq(
        col(rightTs).cast("timestamp").as("__ts"),
        lit(rightTag).as("__tag"),
        struct(col(rightTs).cast("timestamp").as("__rts") +: valueCols.map(col): _*).as("__rv"),
        lit(null).cast(structType(left)).as("__lrow")): _*)

    val leftPacked = left.select(
      keyNames.map(col) ++ Seq(
        col(leftTs).cast("timestamp").as("__ts"),
        lit(leftTag).as("__tag"),
        lit(null).cast(rightStructType(right, rightTs, valueCols)).as("__rv"),
        struct(lCols.map(col): _*).as("__lrow")): _*)

    val unioned = rightPacked.unionByName(leftPacked)
    val w = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__match", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__lrow").isNotNull)

    finish(carried, lCols, valueCols, tolerance)
  }

  private def finish(carried: DataFrame, lCols: Seq[String], valueCols: Seq[String],
      tolerance: Option[Long]): DataFrame = {
    val inTol: Column = tolerance match {
      case Some(tol) =>
        col("__match").isNotNull &&
          (col("__ts").cast("long") - col("__match").getField("__rts").cast("long")) <= tol
      case None => col("__match").isNotNull
    }
    val gated = carried.withColumn("__ok", inTol)
    gated.select(
      lCols.map(c => col("__lrow").getField(c).as(c)) ++
        valueCols.map(c => when(col("__ok"), col("__match").getField(c)).as(c)): _*)
  }

  private def structType(df: DataFrame) =
    org.apache.spark.sql.types.StructType(df.schema.fields)

  private def rightStructType(right: DataFrame, rightTs: String, valueCols: Seq[String]) = {
    import org.apache.spark.sql.types._
    StructType(StructField("__rts", TimestampType) +:
      valueCols.map(c => right.schema(c)))
  }
}
