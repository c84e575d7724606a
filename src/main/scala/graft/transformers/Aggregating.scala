package graft.transformers

import graft.core._
import graft.core.PolarsCompat._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Aggregating transformers (reference: transformers/aggregating_transformers.py).
  *
  * Every op supports three cumulative modes and an optional filtering condition, and is
  * evaluated against an [[AggContext]]: the Over wrapper extends the partition keys, the
  * Rolling wrapper swaps the frame for a time-range frame. Spark forbids nested window
  * functions, so composite ops emit staged temp columns ([[FeaturePlan]]); all stages use
  * canonical specs derived from the shared context so Catalyst collapses them into few
  * Window nodes.
  *
  * Intentional quirk-parity with the reference (verified by its golden tests):
  *   - EXCLUSIVE min/max fill NaN (not null) from the first row onward
  *   - EXCLUSIVE sum fills 0; EXCLUSIVE quantile stays null
  *   - running std is sqrt(Σ_{j≤i}(x_j − runningMean_j)²) — NOT a true sample std
  *   - mode ties resolve to the LARGEST value; running mode uses the reference's
  *     positional trick (aggregating_transformers.py:138-145) verbatim
  *   - exclusive num_unique replicates the reference's is_first_distinct-of-the-
  *     inclusive-series trick, including its off-by-one when a filter rejects row 0
  */
object aggutil {
  def condCol(cond: Option[Cond]): Column = cond.map(_.column).getOrElse(lit(true))
  def whereSuffix(cond: Option[Cond]): String = cond.map(c => s"_where_${c.name}").getOrElse("")

  /** Count (optionally filtered) as a column over the context frame — the shared
    * building block of Count/Mean/PMI.
    */
  def countOver(ctx: AggContext, cum: Cum, cond: Option[Cond], extra: Seq[Column] = Nil): Column =
    cond match {
      case Some(c) =>
        val s = sum(c.column.cast("long")).over(ctx.frame(cum, extra))
        coalesce(s, lit(0L))
      case None =>
        (cum, ctx.rolling) match {
          case (Cum.None, _) | (_, Some(_)) =>
            coalesce(count(lit(1)).over(ctx.frame(cum, extra)), lit(0L))
          case (Cum.Inclusive, None) => row_number().over(ctx.seqW(extra)).cast("long")
          case (Cum.Exclusive, None) => (row_number().over(ctx.seqW(extra)) - 1).cast("long")
        }
    }

  /** Count as a plain aggregate expression (global scalar path). */
  def countAgg(cond: Option[Cond]): Column = cond match {
    case Some(c) => coalesce(sum(c.column.cast("long")), lit(0L))
    case None    => count(lit(1))
  }

  def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(s"$what is not supported (matches no reference-tested behaviour)")
}

import aggutil._

final case class CountTransformer(cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Nil
  def returnType: ColType = ColType.Numeric
  override def skipValidation: Boolean = true
  def outputName: String = s"${cumulative.prefix}count" + whereSuffix(cond)
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    if (ctx.isGlobal && cumulative == Cum.None) {
      val t = tmp.fresh("cnt")
      FeaturePlan(outputName, outputSpec, Vector(Vector(GlobalScalar(t, countAgg(cond)))), col(t))
    } else simple(countOver(ctx, cumulative, cond))
}

final case class LaggedTransformer(column: ColumnSpec, lagN: Int, fillValue: Option[Any] = None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(TypeSelector.any)
  def returnType: ColType = column.colType
  def outputName: String = s"${column.name}_lagged_$lagN"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val c = col(column.name)
    val out = fillValue match {
      case Some(v) => lag(c, lagN, v).over(ctx.seqW())
      case None    => lag(c, lagN).over(ctx.seqW())
    }
    simple(out)
  }
}

final case class FirstValueTransformer(column: ColumnSpec, cond: Option[Cond] = None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(TypeSelector.any)
  def returnType: ColType = column.colType
  def outputName: String = s"${column.name}_first_value" + whereSuffix(cond)
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    simple(first(when(condCol(cond), col(column.name)), ignoreNulls = true).over(ctx.frame(Cum.None)))
}

final case class ModeTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(TypeSelector.any)
  def returnType: ColType = column.colType
  def outputName: String = s"${column.name}_${cumulative.prefix}mode" + whereSuffix(cond)

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val v = col(column.name)
    cumulative match {
      case Cum.None if ctx.rolling.isDefined =>
        // Polars evaluates the full mode over each window's rows; collect the window
        // and take the array mode (largest-value tie-break) — O(window) per row,
        // exactly the reference's cost model for rolling aggregates.
        simple(graft.functions.arrayfns.arrayMode(
          collect_list(when(condCol(cond), v)).over(ctx.frame(Cum.None))))
      case Cum.None =>
        // per-value filtered count, then (count, value)-struct max → largest value wins ties
        val cnt = tmp.fresh("modecnt")
        val cntCol = coalesce(sum(condCol(cond).cast("long")).over(ctx.fullW(Seq(v))), lit(0L))
        val winner = max(when(col(cnt) > 0, struct(col(cnt).as("c"), v.as("v"))))
        if (ctx.isGlobal) {
          val w = tmp.fresh("modewin")
          FeaturePlan(outputName, outputSpec,
            Vector(Vector(Derived(cnt, cntCol)), Vector(GlobalScalar(w, winner))),
            col(w).getField("v"))
        } else {
          FeaturePlan(outputName, outputSpec, Vector(Vector(Derived(cnt, cntCol))),
            winner.over(ctx.fullW()).getField("v"))
        }
      case _ =>
        if (ctx.rolling.isDefined) unsupported("rolling cumulative mode")
        // reference trick (aggregating_transformers.py:138-145):
        //   cvc = when(cond, position within value-group).forward_fill.fill_null(0) over value
        //   cmc = running max of cvc; mode = forward_fill(when(cvc == cmc, value))
        val rn = tmp.fresh("modern"); val cvc = tmp.fresh("modecvc")
        val cmc = tmp.fresh("modecmc"); val m = tmp.fresh("modem")
        val stages = Vector(
          Vector(Derived(rn, row_number().over(ctx.seqW(Seq(v))))),
          Vector(Derived(cvc, coalesce(
            last(when(condCol(cond), col(rn)), ignoreNulls = true).over(ctx.runW(Seq(v))), lit(0)))),
          Vector(Derived(cmc, max(col(cvc)).over(ctx.runW()))),
          Vector(Derived(m, last(when(col(cvc) === col(cmc), v), ignoreNulls = true).over(ctx.runW()))))
        val out = if (cumulative == Cum.Exclusive) lag(col(m), 1).over(ctx.seqW()) else col(m)
        FeaturePlan(outputName, outputSpec, stages, out)
    }
  }
}

final case class NumUniqueTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(TypeSelector.any)
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${column.name}_${cumulative.prefix}num_unique" + whereSuffix(cond)

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val v = col(column.name)
    val c = condCol(cond)
    cumulative match {
      case Cum.None =>
        // Polars n_unique counts null as a distinct value; collect_set drops nulls,
        // so add an explicit null-presence indicator.
        val sel = when(c, v)
        val nullInd = max(when(c && v.isNull, 1).otherwise(0))
        if (ctx.isGlobal) {
          val t = tmp.fresh("nuniq")
          FeaturePlan(outputName, outputSpec,
            Vector(Vector(GlobalScalar(t, size(collect_set(sel)) + nullInd))), col(t))
        } else
          simple(size(collect_set(sel).over(ctx.frame(Cum.None))) + nullInd.over(ctx.frame(Cum.None)))
      case Cum.Inclusive =>
        if (ctx.rolling.isDefined) unsupported("rolling cumulative num_unique")
        if (cond.isEmpty)
          // unfiltered: running collect_set is equivalent to the reference's
          // is_first_distinct cum_sum AND avoids the extra (partition ∪ value)
          // exchange — the whole feature family keeps one shuffle
          simple(size(collect_set(v).over(ctx.runW())) +
            max(when(v.isNull, 1).otherwise(0)).over(ctx.runW()))
        else {
          // filtered: the reference counts a value only if its FIRST occurrence row
          // (in the raw column) passes the filter — requires the per-value position
          val ifd = row_number().over(ctx.seqW(Seq(v))) === 1
          simple(sum(when(ifd && c, 1).otherwise(0)).over(ctx.runW()))
        }
      case Cum.Exclusive =>
        if (ctx.rolling.isDefined) unsupported("rolling cumulative num_unique")
        if (cond.isEmpty) {
          // on an unfiltered nondecreasing inclusive series the reference's
          // is_first_distinct trick reduces exactly to a 1-row shift with fill 0
          val inc = tmp.fresh("nuincl")
          val incCol = size(collect_set(v).over(ctx.runW())) +
            max(when(v.isNull, 1).otherwise(0)).over(ctx.runW())
          FeaturePlan(outputName, outputSpec, Vector(Vector(Derived(inc, incCol))),
            lag(col(inc), 1, 0).over(ctx.seqW()))
        } else {
          // replicate inclusive.is_first_distinct().cum_sum().shift(1, 0) verbatim —
          // including its off-by-one when the filter rejects row 0
          val inc = tmp.fresh("nuincl"); val e = tmp.fresh("nuexcl")
          val ifd = row_number().over(ctx.seqW(Seq(v))) === 1
          val stages = Vector(
            Vector(Derived(inc, sum(when(ifd && c, 1).otherwise(0)).over(ctx.runW()))),
            Vector(Derived(e, sum(when(row_number().over(ctx.seqW(Seq(col(inc)))) === 1, 1).otherwise(0))
              .over(ctx.runW()))))
          FeaturePlan(outputName, outputSpec, stages, lag(col(e), 1, 0).over(ctx.seqW()))
        }
    }
  }
}

/** Shannon entropy (base 2) of `target`'s value distribution within each `source` group
  * (reference: aggregating_transformers.py:184-224). The running variant uses the
  * incremental identity H_i = log2(N_i) − S_i/N_i with
  * S_i = Σ_v c_v·log2(c_v) maintained by per-row deltas — O(n log n) via windows instead
  * of the reference's O(n²) `cumulative_eval`.
  */
final case class EntityEntropyTransformer(source: ColumnSpec, target: ColumnSpec, cumulative: Cum = Cum.None)
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(
    TypeSelector.exclude(ColType.Numeric, ColType.Datetime),
    TypeSelector.exclude(ColType.Numeric, ColType.Datetime))
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${target.name}_by_${source.name}_${cumulative.prefix}entropy"

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val src = col(source.name)
    val tgtName = tmp.fresh("enttgt")
    val tgt = coalesce(col(target.name).cast("string"), lit("N/A"))
    if (ctx.rolling.isDefined) {
      if (cumulative != Cum.None) unsupported("rolling cumulative entity entropy")
      // rolling: collect the window's targets per (partition, source) and aggregate
      // whole — Polars evaluates the full inner expression per window
      return FeaturePlan(outputName, outputSpec,
        Vector(Vector(Derived(tgtName, tgt))),
        graft.functions.arrayfns.arrayEntropy(
          collect_list(col(tgtName)).over(ctx.frame(Cum.None, Seq(src)))))
    }
    cumulative match {
      case Cum.None =>
        val srcTgt = Seq(src, col(tgtName))
        val cnt = count(lit(1)).over(ctx.fullW(srcTgt)).cast("double")
        val tot = count(lit(1)).over(ctx.fullW(Seq(src))).cast("double")
        val firstOcc = row_number().over(ctx.seqW(srcTgt)) === 1
        val p = cnt / tot
        val term = tmp.fresh("entterm")
        FeaturePlan(outputName, outputSpec,
          Vector(
            Vector(Derived(tgtName, tgt)),
            Vector(Derived(term, when(firstOcc, p * log2(p)).otherwise(lit(0.0))))),
          -sum(col(term)).over(ctx.fullW(Seq(src))))
      case _ =>
        val cName = tmp.fresh("entc"); val sName = tmp.fresh("entS")
        val cCol = row_number().over(ctx.seqW(Seq(src, col(tgtName)))).cast("double")
        val delta = when(col(cName) === 1.0, 0.0)
          .otherwise(col(cName) * log2(col(cName)) - (col(cName) - 1) * log2(col(cName) - 1))
        val n = row_number().over(ctx.seqW(Seq(src))).cast("double")
        val h = log2(n) - sum(delta).over(ctx.runW(Seq(src))) / n
        val stages = Vector(
          Vector(Derived(tgtName, tgt)),
          Vector(Derived(cName, cCol)))
        if (cumulative == Cum.Exclusive) {
          val hName = tmp.fresh("entH")
          FeaturePlan(outputName, outputSpec, stages :+ Vector(Derived(hName, h)),
            lag(col(hName), 1).over(ctx.seqW(Seq(src))))
        } else FeaturePlan(outputName, outputSpec, stages, h)
    }
  }
}

/** log2( P(a,b) / (P(a)·P(b)) ) where each probability is a (cumulative, filtered)
  * count over the respective key, divided by the total count (reference:
  * aggregating_transformers.py:227-263). Pure window composition; IEEE division/log
  * reproduce the reference's NaN/±Inf conventions.
  */
final case class PmiTransformer(a: ColumnSpec, b: ColumnSpec, cumulative: Cum = Cum.None,
    cond: Option[Cond] = None) extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = Seq(
    TypeSelector.exclude(ColType.Numeric, ColType.Datetime),
    TypeSelector.exclude(ColType.Numeric, ColType.Datetime))
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${a.name}_${b.name}_${cumulative.prefix}pmi" + whereSuffix(cond)

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    if (ctx.rolling.isDefined && cumulative != Cum.None) unsupported("rolling cumulative PMI")
    val ca = col(a.name); val cb = col(b.name)
    def terms(total: Column): Column = {
      val pa = ieeeDiv(countOver(ctx, cumulative, cond, Seq(ca)), total)
      val pb = ieeeDiv(countOver(ctx, cumulative, cond, Seq(cb)), total)
      val pab = ieeeDiv(countOver(ctx, cumulative, cond, Seq(ca, cb)), total)
      ieeeLog2(ieeeDiv(pab, pa * pb))
    }
    if (cumulative == Cum.None && ctx.isGlobal) {
      // the denominator N is a whole-dataset scalar: broadcast it (partial agg +
      // tiny cross join) instead of a NO-partition full-frame window, which would
      // funnel the entire table through one task. The per-value numerator windows
      // partition by their conditioning columns and stay hash-distributed.
      val t = tmp.fresh("pmi_n")
      FeaturePlan(outputName, outputSpec,
        Vector(Vector(GlobalScalar(t, countAgg(cond)))),
        terms(col(t).cast("double")))
    } else
      simple(terms(countOver(ctx, cumulative, cond).cast("double")))
  }
}

/** Base of min/max/sum/quantile/mean/std/zscore (reference:
  * aggregating_transformers.py:266-426).
  */
sealed abstract class ArithmeticAggTransformer extends AggregatingTransformer {
  def column: ColumnSpec
  def cumulative: Cum
  def cond: Option[Cond]
  def aggName: String

  def inputTypes: Seq[TypeSelector] = Seq(ColType.Numeric | ColType.Boolean)
  def returnType: ColType = ColType.Numeric
  def outputName: String = s"${column.name}_${cumulative.prefix}$aggName" + whereSuffix(cond)

  /** Input with bools coerced, nulled where the condition fails. */
  protected def filtered: Column = when(condCol(cond), inputs.numeric(column))
  protected def filteredD: Column = filtered.cast("double")
}

final case class MinTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "min"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = cumulative match {
    case Cum.None if ctx.isGlobal =>
      val t = tmp.fresh("min")
      FeaturePlan(outputName, outputSpec, Vector(Vector(GlobalScalar(t, min(filtered)))), col(t))
    case Cum.None      => simple(min(filtered).over(ctx.frame(Cum.None)))
    case Cum.Inclusive => simple(min(filtered).over(ctx.frame(Cum.Inclusive)))
    case Cum.Exclusive => simple(coalesce(min(filteredD).over(ctx.frame(Cum.Exclusive)), NaN))
  }
}

final case class MaxTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "max"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = cumulative match {
    case Cum.None if ctx.isGlobal =>
      val t = tmp.fresh("max")
      FeaturePlan(outputName, outputSpec, Vector(Vector(GlobalScalar(t, max(filtered)))), col(t))
    case Cum.None      => simple(max(filtered).over(ctx.frame(Cum.None)))
    case Cum.Inclusive => simple(max(filtered).over(ctx.frame(Cum.Inclusive)))
    case Cum.Exclusive => simple(coalesce(max(filteredD).over(ctx.frame(Cum.Exclusive)), NaN))
  }
}

final case class SumTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "sum"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    if (ctx.isGlobal && cumulative == Cum.None) {
      val t = tmp.fresh("sum")
      FeaturePlan(outputName, outputSpec, Vector(Vector(GlobalScalar(t, coalesce(sum(filtered), lit(0.0))))), col(t))
    } else simple(coalesce(sum(filtered).over(ctx.frame(cumulative)), lit(0.0)))
}

final case class QuantileTransformer(column: ColumnSpec, quantile: Double,
    cumulative: Cum = Cum.None, cond: Option[Cond] = None) extends ArithmeticAggTransformer {
  def aggName: String = if (quantile == 0.5) "median" else s"quantile_${(quantile * 100).toInt}"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    if (ctx.isGlobal && cumulative == Cum.None) {
      val t = tmp.fresh("qtl")
      FeaturePlan(outputName, outputSpec,
        Vector(Vector(GlobalScalar(t, percentile(filteredD, lit(quantile))))), col(t))
    } else simple(percentile(filteredD, lit(quantile)).over(ctx.frame(cumulative)))
}

object MedianTransformer {
  def apply(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None): QuantileTransformer =
    QuantileTransformer(column, 0.5, cumulative, cond)
}

final case class MeanTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "mean"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan =
    if (ctx.isGlobal && cumulative == Cum.None) {
      val t = tmp.fresh("mean")
      FeaturePlan(outputName, outputSpec,
        Vector(Vector(GlobalScalar(t, ieeeDiv(coalesce(sum(filteredD), lit(0.0)), countAgg(cond))))), col(t))
    } else {
      val s = coalesce(sum(filteredD).over(ctx.frame(cumulative)), lit(0.0))
      val c = countOver(ctx, cumulative, cond)
      simple(ieeeDiv(s, c))
    }
}

final case class StdTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "std"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = cumulative match {
    case Cum.None if ctx.isGlobal =>
      val t = tmp.fresh("std")
      FeaturePlan(outputName, outputSpec, Vector(Vector(GlobalScalar(t, stddev_samp(filteredD)))), col(t))
    case Cum.None => simple(stddev_samp(filteredD).over(ctx.frame(Cum.None)))
    case _ =>
      if (ctx.rolling.isDefined) unsupported("rolling cumulative std")
      // reference quirk: each term uses the running mean AT ITS OWN ROW
      // (aggregating_transformers.py:385-397); not a true sample std.
      val m = tmp.fresh("stdmean"); val sq = tmp.fresh("stdsq")
      val meanCol = ieeeDiv(coalesce(sum(filteredD).over(ctx.frame(cumulative)), lit(0.0)),
        countOver(ctx, cumulative, cond))
      // (d*d), not pow(d,2): multiplication is IEEE-exact and matches any engine
      val sqCol = fillNaN0((filteredD - col(m)) * (filteredD - col(m)))
      val frame = if (cumulative == Cum.Exclusive) ctx.runExW() else ctx.runW()
      FeaturePlan(outputName, outputSpec,
        Vector(Vector(Derived(m, meanCol)), Vector(Derived(sq, sqCol))),
        sqrt(coalesce(sum(col(sq)).over(frame), lit(0.0))))
  }
}

final case class ZscoreTransformer(column: ColumnSpec, cumulative: Cum = Cum.None, cond: Option[Cond] = None)
    extends ArithmeticAggTransformer {
  def aggName = "z_score"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    // raw value, filtered statistics (golden: test_aggregating_transformers.py:423)
    val meanPlan = MeanTransformer(column, cumulative, cond).plan(ctx, tmp)
    val stdPlan = StdTransformer(column, cumulative, cond).plan(ctx, tmp)
    val m = tmp.fresh("zmean"); val s = tmp.fresh("zstd")
    val depth = math.max(meanPlan.stages.length, stdPlan.stages.length)
    val merged = (0 until depth).toVector.map { i =>
      meanPlan.stages.lift(i).getOrElse(Vector.empty) ++ stdPlan.stages.lift(i).getOrElse(Vector.empty)
    } :+ Vector(Derived(m, meanPlan.output), Derived(s, stdPlan.output))
    FeaturePlan(outputName, outputSpec, merged,
      ieeeDiv(inputs.numeric(column).cast("double") - col(m), col(s)))
  }
}

sealed abstract class ArgExtremeTransformer extends AggregatingTransformer {
  def valueColumn: ColumnSpec
  def argColumn: ColumnSpec
  def cumulative: Cum
  def cond: Option[Cond]
  def direction: String // "argmin" | "argmax"

  def inputTypes: Seq[TypeSelector] =
    Seq(TypeSelector.exclude(ColType.Nominal, ColType.Text), TypeSelector.any)
  def returnType: ColType = argColumn.colType
  def outputName: String =
    s"${cumulative.prefix}${direction}_of_${valueColumn.name}_by_${argColumn.name}" + whereSuffix(cond)

  protected def extreme(c: Column): Column // min or max

  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val rawV = inputs.numeric(valueColumn)
    val argC = col(argColumn.name)
    val v = when(condCol(cond), rawV)
    if (ctx.rolling.isDefined) {
      if (cumulative != Cum.None) unsupported(s"rolling cumulative $direction")
      return simple(graft.functions.arrayfns.arrayArgExtreme(
        collect_list(struct(v.as("v"), argC.as("a"))).over(ctx.frame(Cum.None)),
        findMax = direction == "argmax"))
    }
    cumulative match {
      case Cum.None =>
        val m = tmp.fresh("argm")
        FeaturePlan(outputName, outputSpec,
          Vector(Vector(Derived(m, extreme(v).over(ctx.fullW())))),
          first(when(v === col(m), argC), ignoreNulls = true).over(ctx.fullW()))
      case Cum.Inclusive =>
        val m = tmp.fresh("argm")
        FeaturePlan(outputName, outputSpec,
          Vector(Vector(Derived(m, extreme(v).over(ctx.runW())))),
          last(when(rawV === col(m), argC), ignoreNulls = true).over(ctx.runW()))
      case Cum.Exclusive =>
        val m = tmp.fresh("argm"); val vl = tmp.fresh("argvl"); val al = tmp.fresh("argal")
        FeaturePlan(outputName, outputSpec,
          Vector(Vector(
            Derived(m, coalesce(extreme(v.cast("double")).over(ctx.runExW()), NaN)),
            Derived(vl, lag(rawV, 1).over(ctx.seqW())),
            Derived(al, lag(argC, 1).over(ctx.seqW())))),
          last(when(col(vl).cast("double") === col(m), col(al)), ignoreNulls = true).over(ctx.runW()))
    }
  }
}

final case class ArgMinTransformer(valueColumn: ColumnSpec, argColumn: ColumnSpec,
    cumulative: Cum = Cum.None, cond: Option[Cond] = None) extends ArgExtremeTransformer {
  def direction = "argmin"
  protected def extreme(c: Column): Column = min(c)
}

final case class ArgMaxTransformer(valueColumn: ColumnSpec, argColumn: ColumnSpec,
    cumulative: Cum = Cum.None, cond: Option[Cond] = None) extends ArgExtremeTransformer {
  def direction = "argmax"
  protected def extreme(c: Column): Column = max(c)
}
