package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, isnan, when}

/** The repo-wide cross-engine rounding contract: floor-based half-up rounding to
  * 6 decimals, `floor(x·10⁶ + 0.5)/10⁶` — chosen because native `round`s disagree
  * across engines on midpoints while this formula is pure IEEE arithmetic any
  * engine reproduces bit-for-bit. NaN and ±Inf pass through unchanged (Spark's
  * `floor(double)` returns BIGINT, which would map them to 0 and ±Long.MaxValue).
  * The DuckDB twin is [[graft.Queries.r6sql]].
  */
object rounding {
  def r6(cRaw: Column): Column = {
    val c = cRaw.cast("double")
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, c)
      .otherwise(floor(c * 1e6 + 0.5).cast("double") / 1e6)
  }
}
