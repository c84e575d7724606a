package graft.web

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of / backfill) join: for every left row `(key, ts)` attach the
  * latest right row with `right_ts <= ts` (`< ts` when `strict`) — the north-rule
  * operator with zero temporal leakage by construction (a window can only look
  * backward in event time).
  *
  * Two physical strategies, one semantic:
  *
  *  - [[backward]]: union-tag + ordered window. ONE shuffle on the key, one sort —
  *    equivalent to a sort-merge as-of; Catalyst/Tungsten handle spilling. This is
  *    the default and is optimal when key cardinality is high relative to rows.
  *
  *  - [[backwardBucketed]]: salts the sort partition with a time bucket for
  *    hot-key skew (one url with millions of snapshots). The right side is
  *    pre-aggregated to one carry row per (key, bucket) — carry propagation runs on
  *    that much smaller table — so each (key, bucket) partition sorts only its own
  *    slice plus one carried row. Correctness: a left row in bucket B matches either
  *    a right row within B, or the carry = latest right row before B's start.
  *
  * No reference counterpart (the reference has no joins); semantics follow the
  * standard as-of contract (DuckDB ASOF JOIN is the test oracle). One deliberate
  * deviation from SQL equality joins: NULL keys group together (window-partition
  * semantics), in every variant — enforced by AsOfPropertySpec's null-key generator.
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

  /** Skew-resistant variant: the window partition key is (keys..., time bucket). */
  def backwardBucketed(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      leftTs: String,
      rightKeys: Seq[String],
      rightTs: String,
      valueCols: Seq[String],
      bucketSeconds: Long,
      strict: Boolean = false,
      tolerance: Option[Long] = None): DataFrame = {
    require(bucketSeconds > 0)
    val keyNames = leftKeys
    val lCols = left.columns.toSeq
    val (leftTag, rightTag) = if (strict) (0, 1) else (1, 0)
    def bucketOf(ts: Column): Column = floor(ts.cast("long") / bucketSeconds).cast("long")

    val rvType = rightStructType(right, rightTs, valueCols)

    val rightPacked = right.select(
      rightKeys.zip(keyNames).map { case (r, l) => col(r).as(l) } ++ Seq(
        col(rightTs).cast("timestamp").as("__ts"),
        struct(col(rightTs).cast("timestamp").as("__rts") +: valueCols.map(col): _*).as("__rv")): _*)
      .withColumn("__bucket", bucketOf(col("__ts")))

    // one row per (key, bucket): the latest right row in that bucket…
    val lastPerBucket = rightPacked
      .groupBy(keyNames.map(col) :+ col("__bucket"): _*)
      .agg(max_by(col("__rv"), col("__ts")).as("__last"))
    val leftPacked = left.select(
      keyNames.map(col) ++ Seq(
        col(leftTs).cast("timestamp").as("__ts"),
        lit(leftTag).as("__tag"),
        lit(null).cast(rvType).as("__rv"),
        struct(lCols.map(col): _*).as("__lrow")): _*)
      .withColumn("__bucket", bucketOf(col("__ts")))

    // the carry entering each bucket = latest right row in any EARLIER bucket; the
    // window runs on the aggregated (key, bucket) table — a hot key with millions of
    // snapshots costs only its bucket count here. Buckets that contain left rows but
    // no right rows still need a carry, so the bucket axis is right ∪ left buckets.
    val leftBuckets = leftPacked.select(keyNames.map(col) :+ col("__bucket"): _*).distinct()
    val allBuckets = lastPerBucket.select(keyNames.map(col) :+ col("__bucket"): _*)
      .unionByName(leftBuckets).distinct()
    // join on a packed struct key: struct equality compares null FIELDS as equal, so
    // null keys keep their carry — matching the window path, which partitions null
    // keys into one group (the as-of contract here, unlike SQL equality joins)
    val lastK = lastPerBucket.select(
      struct(keyNames.map(col): _*).as("__k"), col("__bucket"), col("__last"))
    val carryAll = allBuckets
      .withColumn("__k", struct(keyNames.map(col): _*))
      .join(lastK, Seq("__k", "__bucket"), "left")
      .withColumn("__carryLast", last(col("__last"), ignoreNulls = true).over(
        Window.partitionBy(keyNames.map(col): _*).orderBy(col("__bucket").asc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(keyNames.map(col) :+ col("__bucket") :+ col("__carryLast").as("__carry"): _*)

    val carryRows = carryAll.where(col("__carry").isNotNull).select(
      keyNames.map(col) ++ Seq(
        lit(null).cast("timestamp").as("__ts"), // sorts first (nulls first) within the bucket
        lit(-1).as("__tag"),
        col("__carry").as("__rv"),
        lit(null).cast(structType(left)).as("__lrow"),
        col("__bucket")): _*)

    val rightRows = rightPacked.select(
      keyNames.map(col) ++ Seq(
        col("__ts"), lit(rightTag).as("__tag"), col("__rv"),
        lit(null).cast(structType(left)).as("__lrow"), col("__bucket")): _*)

    val unioned = rightRows.unionByName(carryRows).unionByName(leftPacked)
    val w = Window.partitionBy(keyNames.map(col) :+ col("__bucket"): _*)
      .orderBy(col("__ts").asc_nulls_first, col("__tag").asc)
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
