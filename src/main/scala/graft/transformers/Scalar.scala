package graft.transformers

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar projection transformers (reference:
  * transformers/numeric_transformers.py, comparison_transformers.py,
  * datetime_transformers.py). All are pure `Column` expressions — whole-stage-codegen
  * friendly, no windows, no shuffles.
  */
object inputs {
  /** Boolean columns participate in arithmetic as 0/1 (Polars coerces bools;
    * golden: test_numeric_transformers.py:140-152). Spark needs the explicit cast.
    */
  def numeric(spec: ColumnSpec): Column =
    if (spec.colType == ColType.Boolean) col(spec.name).cast("int") else col(spec.name)
}

abstract class UnaryNumericTransformer(val column: ColumnSpec) extends FeatureTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(ColType.Numeric.asSelector)
  def returnType: ColType = ColType.Numeric
}

final case class PolynomialTransformer(c: ColumnSpec, degree: Int) extends UnaryNumericTransformer(c) {
  def outputName: String = s"${c.name}_pow_$degree"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(pow(inputs.numeric(c), lit(degree)))
}

final case class LogTransformer(c: ColumnSpec, base: Double = math.E) extends UnaryNumericTransformer(c) {
  def outputName: String = if (base == math.E) s"${c.name}_ln" else s"${c.name}_log${Fmt.num(base)}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(PolarsCompat.ieeeLog(base, inputs.numeric(c)))
}

final case class SinTransformer(c: ColumnSpec) extends UnaryNumericTransformer(c) {
  def outputName: String = s"${c.name}_sin"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(sin(inputs.numeric(c)))
}

final case class CosTransformer(c: ColumnSpec) extends UnaryNumericTransformer(c) {
  def outputName: String = s"${c.name}_cos"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(cos(inputs.numeric(c)))
}

/** Whole-dataset scalers. The reference broadcasts frame-level aggregates back to rows
  * (numeric_transformers.py:75-90); here that is a `GlobalScalar` stage — a regular
  * aggregation cross-joined back via broadcast, NOT an empty-partition window (which
  * would serialize the whole table through one task at scale).
  */
final case class StandardScaler(c: ColumnSpec) extends UnaryNumericTransformer(c) {
  def outputName: String = s"${c.name}_standard_scaled"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val x = inputs.numeric(c).cast("double")
    val m = tmp.fresh("mean"); val s = tmp.fresh("std")
    FeaturePlan(outputName, outputSpec,
      Vector(Vector(GlobalScalar(m, avg(x)), GlobalScalar(s, stddev_samp(x)))),
      PolarsCompat.ieeeDiv(x - col(m), col(s)))
  }
}

final case class MinMaxScaler(c: ColumnSpec) extends UnaryNumericTransformer(c) {
  def outputName: String = s"${c.name}_minmax_scaled"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val x = inputs.numeric(c).cast("double")
    val lo = tmp.fresh("min"); val hi = tmp.fresh("max")
    FeaturePlan(outputName, outputSpec,
      Vector(Vector(GlobalScalar(lo, min(x)), GlobalScalar(hi, max(x)))),
      PolarsCompat.ieeeDiv(x - col(lo), col(hi) - col(lo)))
  }
}

abstract class BinaryTransformer(val left: ColumnSpec, val right: ColumnSpec) extends FeatureTransformer {
}

abstract class ArithmeticTransformer(l: ColumnSpec, r: ColumnSpec) extends BinaryTransformer(l, r) {
  private val numOrBool = ColType.Numeric | ColType.Boolean
  def inputTypes: Seq[TypeSelector] = Seq(numOrBool, numOrBool)
  def returnType: ColType = ColType.Numeric
  protected def lc: Column = inputs.numeric(left)
  protected def rc: Column = inputs.numeric(right)
}

final case class AddTransformer(l: ColumnSpec, r: ColumnSpec) extends ArithmeticTransformer(l, r) {
  def outputName: String = s"${l.name}_add_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(lc + rc)
}

final case class SubtractTransformer(l: ColumnSpec, r: ColumnSpec) extends ArithmeticTransformer(l, r) {
  def outputName: String = s"${l.name}_subtract_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(lc - rc)
}

final case class MultiplyTransformer(l: ColumnSpec, r: ColumnSpec) extends ArithmeticTransformer(l, r) {
  def outputName: String = s"${l.name}_multiply_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(lc * rc)
}

final case class DivideTransformer(l: ColumnSpec, r: ColumnSpec) extends ArithmeticTransformer(l, r) {
  def outputName: String = s"${l.name}_divide_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(PolarsCompat.ieeeDiv(lc, rc))
}

abstract class ComparisonTransformer(l: ColumnSpec, r: ColumnSpec) extends BinaryTransformer(l, r) {
  def inputTypes: Seq[TypeSelector] = Seq(TypeSelector.any, TypeSelector.any)
  def returnType: ColType = ColType.Boolean
}

final case class EqualTransformer(l: ColumnSpec, r: ColumnSpec) extends ComparisonTransformer(l, r) {
  def outputName: String = s"${l.name}_equal_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(col(l.name) === col(r.name))
}

final case class GreaterThanTransformer(l: ColumnSpec, r: ColumnSpec) extends ComparisonTransformer(l, r) {
  def outputName: String = s"${l.name}_greater_than_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(col(l.name) > col(r.name))
}

final case class GreaterOrEqualTransformer(l: ColumnSpec, r: ColumnSpec) extends ComparisonTransformer(l, r) {
  def outputName: String = s"${l.name}_greater_or_equal_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = simple(col(l.name) >= col(r.name))
}

/** Seasonal datetime transformers (reference: datetime_transformers.py:17-87).
  * Raw values are ISO conventions: hour 0-23, weekday Mon=1..Sun=7, month 1-12.
  * Spark's `dayofweek` is Sun=1, so ISO weekday is `weekday(ts)+1` (Mon=0 based).
  */
sealed trait GonTransformation { def suffix: String }
object GonTransformation {
  case object Sin extends GonTransformation { val suffix = "_sin" }
  case object Cos extends GonTransformation { val suffix = "_cos" }
}

abstract class SeasonalTransformer(val column: ColumnSpec, val angular: Boolean,
    val gon: Option[GonTransformation]) extends FeatureTransformer {
  require(angular || gon.isEmpty, "gon_transformation can be used only with angular=true")
  def inputTypes: Seq[TypeSelector] = Seq(ColType.Datetime.asSelector)
  def returnType: ColType = if (gon.isEmpty) ColType.Ordinal else ColType.Numeric

  protected def raw: Column
  /** (value - offset) * 2π / period for the angular mapping. */
  protected def period: Int
  protected def offset: Int
  protected def opName: String

  def outputName: String =
    s"${column.name}_$opName" + (if (angular) "_angular" else "") + gon.map(_.suffix).getOrElse("")

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val base = if (angular) (raw - lit(offset)) * lit(2 * math.Pi) / lit(period) else raw
    val out = gon match {
      case Some(GonTransformation.Sin) => sin(base)
      case Some(GonTransformation.Cos) => cos(base)
      case None                        => base
    }
    simple(out)
  }
}

final case class HourOfDayTransformer(c: ColumnSpec, override val angular: Boolean = false,
    override val gon: Option[GonTransformation] = None) extends SeasonalTransformer(c, angular, gon) {
  protected def raw: Column = hour(col(c.name))
  protected def period = 24; protected def offset = 0
  protected def opName = "hour_of_day"
}

final case class DayOfWeekTransformer(c: ColumnSpec, override val angular: Boolean = false,
    override val gon: Option[GonTransformation] = None) extends SeasonalTransformer(c, angular, gon) {
  protected def raw: Column = weekday(col(c.name)) + lit(1)
  protected def period = 7; protected def offset = 1
  protected def opName = "day_of_week"
}

final case class MonthOfYearTransformer(c: ColumnSpec, override val angular: Boolean = false,
    override val gon: Option[GonTransformation] = None) extends SeasonalTransformer(c, angular, gon) {
  protected def raw: Column = month(col(c.name))
  protected def period = 12; protected def offset = 1
  protected def opName = "month_of_year"
}

/** Truncated time differences (reference: datetime_transformers.py:90-128).
  * Polars `dt.total_hours/days` truncate toward zero; double-divide + cast-to-long
  * reproduces that for both signs.
  */
final case class TimeDiffTransformer(l: ColumnSpec, r: ColumnSpec, unit: String = "d")
    extends BinaryTransformer(l, r) {
  require(Set("s", "h", "d").contains(unit), s"unit must be one of s/h/d, got $unit")
  def inputTypes: Seq[TypeSelector] = Seq(ColType.Datetime.asSelector, ColType.Datetime.asSelector)
  def returnType: ColType = ColType.Numeric
  private def unitWord: String = unit match { case "s" => "seconds"; case "h" => "hours"; case "d" => "days" }
  def outputName: String = s"${l.name}_total_${unitWord}_diff_${r.name}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val secs = col(l.name).cast("long") - col(r.name).cast("long")
    val out = unit match {
      case "s" => secs
      case "h" => (secs.cast("double") / 3600d).cast("long")
      case "d" => (secs.cast("double") / 86400d).cast("long")
    }
    simple(out)
  }
}
