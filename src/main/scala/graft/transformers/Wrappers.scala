package graft.transformers

import graft.core._

/** Grouped evaluation wrapper (reference: transformers/over_wrapper.py).
  * Extends the context's partition keys so the whole inner plan — including every
  * staged temp — is evaluated per group. Window specs stay canonical, so features
  * sharing group keys share Window nodes.
  */
final case class OverWrapper(inner: AggregatingTransformer, overColumns: Seq[String])
    extends AggregatingTransformer {
  def inputTypes: Seq[TypeSelector] = inner.inputTypes
  def returnType: ColType = inner.returnType
  override def skipValidation: Boolean = true
  def outputName: String = inner.outputName + "_over_" + overColumns.mkString("_and_")
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val p = inner.plan(ctx.copy(partitionBy = ctx.partitionBy ++ overColumns), tmp)
    p.copy(outputName = outputName, spec = outputSpec)
  }
}

/** Time-rolling evaluation wrapper (reference: transformers/rolling_wrapper.py).
  * Swaps the context frame for a `(t-Δ, t]` range frame over the datetime index.
  */
final case class RollingWrapper(inner: AggregatingTransformer, indexColumn: ColumnSpec, window: String)
    extends AggregatingTransformer {
  require(indexColumn.colType == ColType.Datetime,
    s"Currently only DATETIME columns are supported for rolling aggregation but ${indexColumn.colType} was passed for ${indexColumn.name}.")
  def inputTypes: Seq[TypeSelector] = inner.inputTypes
  def returnType: ColType = inner.returnType
  override def skipValidation: Boolean = true
  def outputName: String = inner.outputName + s"_in_the_last_$window"
  def plan(ctx: AggContext, tmp: TempNamer): FeaturePlan = {
    val spec = RollingSpec(indexColumn.name, Durations.parseSeconds(window), window)
    val p = inner.plan(ctx.copy(rolling = Some(spec)), tmp)
    p.copy(outputName = outputName, spec = outputSpec)
  }
}
