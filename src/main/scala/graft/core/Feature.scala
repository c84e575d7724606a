package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Cumulative evaluation modes (reference:
  * transformers/aggregating_transformers.py:21-27). The string prefixes are part of the
  * public name grammar.
  */
sealed abstract class Cum(val prefix: String)
object Cum {
  case object None extends Cum("")
  case object Exclusive extends Cum("exclusive_cum_")
  case object Inclusive extends Cum("inclusive_cum_")
}

/** A named filtering condition (reference passes a named `pl.Expr`; the name feeds the
  * `_where_{name}` suffix, utils/utils.py:29-32).
  */
final case class Cond(name: String, column: Column)
object Cond {
  /** Condition that is just an existing boolean column. */
  def ofColumn(name: String): Cond = Cond(name, col(name))
}

final case class RollingSpec(indexColumn: String, seconds: Long, label: String)

/** Evaluation context for aggregating transformers.
  *
  * Polars evaluates `.over()` / `cum_*` in the frame's physical row order; Spark has no
  * global row order, so the engine makes ordering explicit: `orderBy` is the
  * deterministic stand-in (an ingestion row index for parity tests; `(warc_ts, url)` for
  * the web-scale engine — point-in-time correctness requires event-time order anyway).
  *
  * All generated features sharing a context produce identical `WindowSpec`s, which
  * Catalyst's `ExtractWindowExpressions` collapses into a single Window physical node —
  * the single biggest performance lever at feature counts in the hundreds (SURVEY §4.2).
  */
final case class AggContext(
    partitionBy: Seq[String],
    orderBy: Seq[String],
    rolling: Option[RollingSpec],
    alignedIndex: Option[String] = None) {

  def partCols: Seq[Column] = partitionBy.map(col)
  def orderCols: Seq[Column] = orderBy.map(col)

  private def base(extraParts: Seq[Column] = Nil): WindowSpec =
    Window.partitionBy(partCols ++ extraParts: _*)

  /** When `alignedIndex = Some(idx)` and `idx` leads `orderBy`, every sequential/row
    * window orders by `(__graft_ord_idx, orderBy…)` and every range window over `idx`
    * orders by the same `__graft_ord_idx` attribute (see [[AggContext.alignedName]]).
    * Epoch-second truncation is monotone in the timestamp, so prefixing it changes NO
    * feature value — but it lets ONE physical Sort serve both the row-frame windows
    * (whose ordering extends the prefix) and the range-frame windows (whose required
    * ordering IS the prefix). Without it the plan pays a fresh in-partition sort per
    * frame family: Catalyst extracts each window's inline `cast(ts as long)` as a
    * distinct attribute, so orderings that are semantically nested never match.
    */
  private def alignedPrefix: Seq[Column] = alignedIndex match {
    case Some(idx) if orderBy.headOption.contains(idx) => Seq(col(AggContext.alignedName(idx)))
    case _ => Nil
  }

  /** Sequential window (lag / row_number). */
  def seqW(extraParts: Seq[Column] = Nil): WindowSpec =
    base(extraParts).orderBy(alignedPrefix ++ orderCols: _*)

  /** Whole-partition frame, deterministically ordered. */
  def fullW(extraParts: Seq[Column] = Nil): WindowSpec =
    seqW(extraParts).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Running frame `[start, current]`. */
  def runW(extraParts: Seq[Column] = Nil): WindowSpec =
    seqW(extraParts).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Running frame `[start, current)`. */
  def runExW(extraParts: Seq[Column] = Nil): WindowSpec =
    seqW(extraParts).rowsBetween(Window.unboundedPreceding, -1)

  /** Time-range frame. Polars' rolling windows are open on the left, closed on the
    * right — `(t-Δ, t]` (golden: test_pipeline.py:370) — while Spark range frames are
    * closed on both ends, so the lower bound is `-(Δ-1)` at one-second granularity over
    * `unix_timestamp`-cast ordering.
    */
  def rangeW(r: RollingSpec, exclusive: Boolean, extraParts: Seq[Column] = Nil): WindowSpec = {
    // timestamp (with or without tz) → epoch seconds; NTZ interpreted in the
    // session time zone (pinned UTC in build.sbt)
    val ordCol = alignedIndex match {
      case Some(idx) if idx == r.indexColumn => col(AggContext.alignedName(idx))
      case _ => col(r.indexColumn).cast("timestamp").cast("long")
    }
    val w = base(extraParts).orderBy(ordCol)
    if (exclusive) w.rangeBetween(-(r.seconds - 1), -1) else w.rangeBetween(-(r.seconds - 1), 0)
  }

  /** The frame an aggregate evaluates over, by cumulative mode. */
  def frame(cum: Cum, extraParts: Seq[Column] = Nil): WindowSpec = rolling match {
    case Some(r) => rangeW(r, cum == Cum.Exclusive, extraParts)
    case None =>
      cum match {
        case Cum.None      => fullW(extraParts)
        case Cum.Inclusive => runW(extraParts)
        case Cum.Exclusive => runExW(extraParts)
      }
  }

  /** True when a whole-dataset (no partition, no rolling) NONE aggregate should run as
    * a regular aggregation + broadcast cross-join instead of a single-partition window.
    */
  def isGlobal: Boolean = partitionBy.isEmpty && rolling.isEmpty
}

object AggContext {
  /** Name of the materialized epoch-seconds twin of time-index column `idx`. The
    * Pipeline materializes (and drops) it automatically for layers that mix rolling
    * and running windows; callers composing their OWN windows around a pipeline
    * (e.g. the web point-in-time job) pre-materialize it under this name so their
    * windows share the pipeline's single sort — a pre-existing column is then left
    * in place for the caller to drop. The pipeline always (re)assigns the canonical
    * `col(idx).cast("timestamp").cast("long")` expression under this name rather
    * than trusting found values. The `__graft_` prefix is the engine's RESERVED
    * column namespace (temp stages use it too): user columns under it may be
    * overwritten or dropped by any pipeline run.
    */
  def alignedName(idx: String): String = s"__graft_ord_$idx"
}

/** One derived temp/output column within a feature's staged computation. Spark forbids
  * nesting a window function inside another window function's arguments, so composite
  * features (running std, cumulative mode, PMI, ...) materialize intermediate columns in
  * stages; stage `i` may reference any temp from stages `< i`.
  */
sealed trait StageItem { def name: String }

/** Plain derived column — executed via one batched `withColumns` per stage. */
final case class Derived(name: String, column: Column) extends StageItem

/** Whole-dataset scalar — executed as `df.crossJoin(broadcast(df.agg(...)))`, batched
  * across all features of a stage so a layer needs at most one extra pass. This is the
  * scale-safe replacement for Polars' whole-frame aggregates broadcast to rows (e.g.
  * StandardScaler, reference numeric_transformers.py:75-81): an empty-`partitionBy`
  * Spark window would funnel 100 TB through one task.
  */
final case class GlobalScalar(name: String, agg: Column) extends StageItem

/** A fully-resolved feature: staged temps plus the output expression. */
final case class FeaturePlan(
    outputName: String,
    spec: ColumnSpec,
    stages: Vector[Vector[StageItem]],
    output: Column) {
  def tempNames: Seq[String] = stages.flatten.map(_.name)
}

/** Allocates collision-free temp column names across all features in a pipeline. */
final class TempNamer {
  private var i = 0
  def fresh(hint: String = "t"): String = { i += 1; s"__graft_${hint}_$i" }
}

/** A feature transformer: declares input typing for the meta-level expansion/validation
  * (reference transformers/base.py:12-42) and emits a staged Spark plan.
  */
trait FeatureTransformer {
  /** Expected type selector per positional input. */
  def inputTypes: Seq[TypeSelector]
  def returnType: ColType
  def outputName: String
  final def outputSpec: ColumnSpec = ColumnSpec(outputName, returnType)
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan
  /** Wrappers and Count are exempt from positional type validation (validator.py:24). */
  def skipValidation: Boolean = false

  protected def simple(out: Column): FeaturePlan =
    FeaturePlan(outputName, outputSpec, Vector.empty, out)
}

/** Marker for transformers that the Over/Rolling wrappers may wrap. */
trait AggregatingTransformer extends FeatureTransformer
