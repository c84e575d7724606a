package graft.web

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: a new session starts when the event-time delta within a
  * key exceeds `gapSeconds` (north rule: session cut on warc_ts deltas per url).
  *
  * Pure window composition — exactly the reference-primitive decomposition noted in
  * SURVEY.md §2.8: lag + comparison + running sum. Every expression shares ONE
  * (keys, orderBy) window family, so the whole sessionization costs a single
  * shuffle + sort and collapses into one Window node; `orderBy` should match the
  * surrounding feature job's order key so Catalyst shares the sort across operators.
  */
object Sessionize {

  /** Adds `{prefix}id` (0-based per key), `{prefix}event_idx` (0-based within
    * session), and `{prefix}gap_seconds` (delta to previous event, null on first).
    *
    * `orderBy` defaults to the timestamp column alone; with duplicate (key, ts) rows
    * that makes gap/idx assignment nondeterministic — callers should pass an explicit
    * unique tie-break (e.g. `Seq(tsCol, idCol)`), as every gate query does.
    */
  def withSessionIds(df: DataFrame, keys: Seq[String], tsCol: String, gapSeconds: Long,
      prefix: String = "session_", orderBy: Seq[String] = Nil): DataFrame = {
    val ord = (if (orderBy.nonEmpty) orderBy else Seq(tsCol)).map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsLong = col(tsCol).cast("timestamp").cast("long")
    val gap = s"${prefix}gap_seconds"
    val rn = row_number().over(w)
    // the gap is materialized before `__new` reads it, so `lag` is one window
    // expression rather than one per mention
    val isNew = when(col(gap).isNull || col(gap) > gapSeconds, 1L).otherwise(0L)
    // event_idx without a (keys, session_id) re-partition: distance from the row that
    // started the current session (sessions are contiguous runs in this order)
    val d = df
      .withColumn("__rn", rn)
      .withColumn(gap, tsLong - lag(tsLong, 1).over(w))
      .withColumn("__new", isNew)
    d.withColumn(s"${prefix}id", sum(col("__new")).over(run) - 1)
      .withColumn(s"${prefix}event_idx",
        (col("__rn") - last(when(col("__new") === 1, col("__rn")), ignoreNulls = true).over(run))
          .cast("long"))
      .drop("__rn", "__new")
  }

  /** One row per (key, session): span, event count. */
  def sessionStats(df: DataFrame, keys: Seq[String], tsCol: String, gapSeconds: Long,
      prefix: String = "session_", orderBy: Seq[String] = Nil): DataFrame = {
    val withIds = withSessionIds(df, keys, tsCol, gapSeconds, prefix, orderBy)
    withIds.groupBy(keys.map(col) :+ col(s"${prefix}id"): _*)
      .agg(
        count(lit(1)).as(s"${prefix}num_events"),
        min(col(tsCol)).as(s"${prefix}start"),
        max(col(tsCol)).as(s"${prefix}end"),
        (max(col(tsCol)).cast("timestamp").cast("long") -
          min(col(tsCol)).cast("timestamp").cast("long")).as(s"${prefix}duration_seconds"))
  }
}
