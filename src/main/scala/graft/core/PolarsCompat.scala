package graft.core

import graft.functions.KernelCall
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Float semantics shims.
  *
  * The reference delegates arithmetic to Polars (Rust/IEEE-754 semantics); Spark SQL's
  * non-ANSI semantics differ in exactly three places that the reference's golden tests
  * pin down (e.g. /root/reference/src/auto_featurs/pipeline/tests/test_pipeline.py:320,338):
  *   - division by zero: Spark → null, IEEE → NaN (0/0) or ±Inf (x/0)
  *   - log of zero:      Spark → null, IEEE → -Inf
  *   - log of negatives: Spark → null, IEEE → NaN
  *
  * Each helper is one [[IeeeKernels]] call through [[KernelCall]] that names every
  * operand exactly once. A `when` chain has to name an operand in each test (`isnan`,
  * `=== 0`, the divisor's sign) and again in the result, and Catalyst does not merge
  * repeated window functions: a rolling mean, `sum(x).over(w) / count.over(w)`,
  * would lower to four `sum`s and four `count`s over the same frame, each
  * re-aggregated whenever the frame moves. Named once, it is one of each.
  */
object PolarsCompat {
  val NaN: Column = lit(Double.NaN)

  /** IEEE-754 division: NaN in → NaN, 0/0 → NaN, x/0 → ±Inf, else l/r; inputs cast to
    * double. A null operand gives null unless the other operand is NaN, which gives
    * NaN; so both travel in one struct and the kernel sees their nulls. The output is
    * nullable.
    */
  def ieeeDiv(l: Column, r: Column): Column =
    KernelCall.orNull(IeeeKernels, "div", DoubleType, struct(l.cast("double"), r.cast("double")))

  /** IEEE log_base: log(0) → -Inf, log(<0) → NaN, null → null. Nullable output. */
  def ieeeLog(base: Double, c: Column): Column =
    KernelCall.orNull(IeeeKernels, "log", DoubleType, base, c.cast("double"))

  /** IEEE log2 (used by PMI): Spark's `log2(x)` and `log(2.0, x)` are the same
    * `StrictMath.log(x) / StrictMath.log(2.0)`.
    */
  def ieeeLog2(c: Column): Column = ieeeLog(2.0, c)

  /** NaN → 0.0 (Polars fill_nan), preserving nulls. */
  def fillNaN0(c: Column): Column = when(isnan(c), 0.0).otherwise(c)
}

/** The kernels behind [[PolarsCompat]], called through [[KernelCall]]. Each ports the
  * `when` chain it replaced, so every output bit (NaN bits too) is the one the chain
  * gave: a NaN result is `Double.NaN` (the chain's literal), and what the chain left
  * to Spark's `Divide`/`Logarithm` is computed with their formula. ScalarSpec holds
  * each kernel to its chain.
  */
object IeeeKernels {
  /** `lr` is the struct `(l, r)` of two nullable doubles. */
  def div(lr: InternalRow): java.lang.Double = {
    val lNull = lr.isNullAt(0)
    val rNull = lr.isNullAt(1)
    val l = if (lNull) 0.0 else lr.getDouble(0)
    val r = if (rNull) 0.0 else lr.getDouble(1)
    if ((!lNull && l.isNaN) || (!rNull && r.isNaN)) Double.NaN
    else if (lNull || rNull) null
    else if (r == 0.0 && l == 0.0) Double.NaN
    else l / r // x / ±0.0 is ±Inf, the zero's sign included (x / -0.0 → ∓Inf)
  }

  /** `log_base(c)` of a non-null `c`; null only where Spark's `Logarithm` is: a base
    * ≤ 0 with `c` > 0.
    */
  def log(base: Double, c: Double): java.lang.Double =
    if (c.isNaN) Double.NaN
    else if (c == 0.0) Double.NegativeInfinity
    else if (c < 0.0) Double.NaN
    else if (base <= 0.0) null
    else StrictMath.log(c) / StrictMath.log(base)
}

/** Duration grammar of the reference's time windows: `{y,mo,d,h,m,s}` concatenated,
  * e.g. "2d1h" (reference: utils/utils.py:55-79, constants.py). Months are 30 days,
  * years 365 days, matching the reference's constants.
  */
object Durations {
  val SecondsInMinute = 60L
  val SecondsInHour = 3600L
  val SecondsInDay = 86400L
  val SecondsInMonth = 30L * SecondsInDay
  val SecondsInYear = 365L * SecondsInDay

  private val token = """(\d+)(mo|y|d|h|m|s)""".r

  def parseSeconds(s: String): Long = {
    val parsed = token.findAllMatchIn(s).map { m =>
      val n = m.group(1).toLong
      m.group(2) match {
        case "y"  => n * SecondsInYear
        case "mo" => n * SecondsInMonth
        case "d"  => n * SecondsInDay
        case "h"  => n * SecondsInHour
        case "m"  => n * SecondsInMinute
        case "s"  => n
      }
    }.sum
    val consumed = token.findAllMatchIn(s).map(_.matched.length).sum
    require(consumed == s.length && s.nonEmpty, s"Invalid duration string: '$s'")
    parsed
  }

  /** Format seconds back to the canonical string ("0s" for zero). */
  def format(totalSeconds: Long): String = {
    var rem = totalSeconds
    val sb = new StringBuilder
    def emit(unitSeconds: Long, suffix: String): Unit = {
      val n = rem / unitSeconds
      rem %= unitSeconds
      if (n > 0) sb.append(n).append(suffix)
    }
    emit(SecondsInYear, "y"); emit(SecondsInMonth, "mo"); emit(SecondsInDay, "d")
    emit(SecondsInHour, "h"); emit(SecondsInMinute, "m")
    if (rem > 0) sb.append(rem).append("s")
    if (sb.isEmpty) "0s" else sb.toString
  }
}

/** Number formatting for generated column names (`_log10` not `_log10.0`). */
object Fmt {
  def num(d: Double): String =
    if (d == math.floor(d) && !d.isInfinite) d.toLong.toString else d.toString
}
