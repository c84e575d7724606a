package graft.dataset

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Data + logical schema + explicit row order (reference: dataset/dataset.py).
  *
  * `orderBy` is this engine's replacement for Polars' physical row order: every
  * order-sensitive feature (lag, cumulative, rolling) is evaluated in this order. For
  * the web-page table it is `(warc_ts, url)`; parity tests materialize an ingestion
  * `row_idx`. Making order part of the dataset (not each operator) is what guarantees
  * zero temporal leakage: no feature can see a row later in event time.
  */
final case class GraftDataset(df: DataFrame, schema: FeatureSchema, orderBy: Seq[String]) {

  def selectCols(sel: ColumnSelection): Vector[ColumnSpec] = schema.select(sel)
  def columnByName(name: String): ColumnSpec = schema.byName(name)
  def labelColumn: ColumnSpec = schema.labelColumn
  def numColumns: Int = schema.numColumns

  def withSchema(extra: FeatureSchema): GraftDataset = copy(schema = schema ++ extra)

  def drop(cols: Iterable[ColumnSpec]): GraftDataset = {
    val names = cols.map(_.name).toSeq
    GraftDataset(df.drop(names: _*), schema.drop(cols), orderBy)
  }

  def cached: GraftDataset = copy(df = df.persist(StorageLevel.MEMORY_AND_DISK))

  def sinkParquet(path: String): Unit = df.write.mode("overwrite").parquet(path)
}

object GraftDataset {
  /** Drops physical columns missing from the declared schema when asked
    * (reference dataset.py:25-32); order columns are always kept.
    */
  def apply(df: DataFrame, schema: FeatureSchema, orderBy: Seq[String],
      dropColumnsOutsideSchema: Boolean): GraftDataset = {
    val base =
      if (!dropColumnsOutsideSchema) df
      else {
        val keep = (schema.columnNames ++ orderBy).toSet
        val extra = df.columns.filterNot(keep.contains)
        if (extra.nonEmpty) df.drop(extra.toSeq: _*) else df
      }
    GraftDataset(base, schema, orderBy)
  }
}
