package graft

import graft.core._
import graft.dataset.GraftDataset
import graft.pipeline.{ops, Pipeline}
import graft.transformers._
import graft.pipeline.FeatureExec
import org.apache.spark.sql.functions._

/** Odds and ends: describe, parquet sink roundtrip, schema reconciliation, exclusive
  * entropy, layered aggregating features, quirky edge semantics.
  */
class MiscSpec extends SparkTestBase {

  test("describe renders layers, auxiliaries and counts") {
    val p = Pipeline(basicDataset())
      .withPolynomial("NUMERIC_FEATURE", Seq(2), auxiliary = true)
      .withNewLayer()
      .withLog("NUMERIC_FEATURE_pow_2", Seq(10))
    val d = p.describe()
    assert(d.contains("Pipeline Breakdown"))
    assert(d.contains("NUMERIC_FEATURE_pow_2") && d.contains("[AUXILIARY]"))
    assert(d.contains("NUMERIC_FEATURE_pow_2_log10"))
    assert(d.contains("Total Layers:"))
    assert(p.explain().contains("Project"))
  }

  test("sinkParquet roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/out"
    Pipeline(basicDataset()).withPolynomial("NUMERIC_FEATURE", Seq(2)).sinkParquet(dir)
    val back = spark.read.parquet(dir)
    assertColumn(back, "NUMERIC_FEATURE_pow_2", Seq(0, 1, 4, 9, 16, 25))
  }

  test("dropColumnsOutsideSchema keeps order columns") {
    val ds = GraftDataset(basicFrame,
      FeatureSchema(ColumnSpec.numeric("NUMERIC_FEATURE")), Seq(Idx),
      dropColumnsOutsideSchema = true)
    assert(ds.df.columns.toSet == Set(Idx, "NUMERIC_FEATURE"))
  }

  test("exclusive cumulative entropy is the inclusive value shifted within the source group") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField(Idx, IntegerType),
      StructField("ID", StringType), StructField("LOC", StringType)))
    val rows = Seq(Row(0, "1", "CZ"), Row(1, "1", "SK"), Row(2, "1", "CZ"), Row(3, "2", "PL"))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val df = FeatureExec.applyTransformers(frame, AggContext(Nil, Seq(Idx), None), Seq(
      EntityEntropyTransformer(ColumnSpec.nominal("ID"), ColumnSpec.nominal("LOC"), Cum.Inclusive),
      EntityEntropyTransformer(ColumnSpec.nominal("ID"), ColumnSpec.nominal("LOC"), Cum.Exclusive)))
    assertColumns(df, Map(
      "LOC_by_ID_inclusive_cum_entropy" -> Seq(0.0, 1.0, 0.918296, 0.0),
      "LOC_by_ID_exclusive_cum_entropy" -> Seq(null, 0.0, 1.0, null)))
  }

  test("aggregating features layer on generated columns") {
    // layer 1 derives a scalar; layer 2 aggregates it per group — exercises schema
    // threading through withNewLayer for window features
    val p = Pipeline(basicDataset())
      .withPolynomial("NUMERIC_FEATURE", Seq(2))
      .withNewLayer()
      .withArithmeticAggregation("NUMERIC_FEATURE_pow_2", Seq(ops.Agg.Sum),
        overColumnsCombinations = Seq(Seq("GROUPING_FEATURE_NUM")), cumulative = Cum.Inclusive)
    assertColumns(p.toDF(), Map(
      "NUMERIC_FEATURE_pow_2_inclusive_cum_sum_over_GROUPING_FEATURE_NUM" ->
        Seq(0, 1, 4, 10, 20, 35)))
  }

  test("filtering condition may be an arbitrary expression with a name") {
    val cond = Cond("NUM_GE_3", col("NUMERIC_FEATURE") >= 3)
    val df = FeatureExec.applyTransformers(basicFrame, AggContext(Nil, Seq(Idx), None), Seq(
      SumTransformer(ColumnSpec.numeric("NUMERIC_FEATURE_2"), Cum.None, Some(cond))))
    assertColumns(df, Map(
      "NUMERIC_FEATURE_2_sum_where_NUM_GE_3" -> Seq(-12, -12, -12, -12, -12, -12)))
  }

  test("unsupported rolling combinations fail loudly with a clear message") {
    val date = ColumnSpec.datetime("DATE_FEATURE")
    val e = intercept[UnsupportedOperationException] {
      FeatureExec.applyTransformers(basicFrame, AggContext(Nil, Seq(Idx), None), Seq(
        RollingWrapper(ModeTransformer(ColumnSpec.nominal("GROUPING_FEATURE_NUM"), Cum.Inclusive),
          date, "2d")))
    }
    assert(e.getMessage.contains("rolling cumulative mode"))
  }

  test("rolling wrapper rejects non-datetime index columns") {
    assertThrows[IllegalArgumentException] {
      RollingWrapper(CountTransformer(), ColumnSpec.numeric("NUMERIC_FEATURE"), "2d")
    }
  }

  test("the test session carries every GraftSession conf value") {
    GraftSession.conf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("README coverage matrix names every gate query") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val start = readme.indexOf("## SURVEY §2 coverage matrix")
    assert(start >= 0, "coverage matrix heading not found")
    val matrix = readme.substring(start, readme.indexOf("\n## ", start + 1))
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(k => s"(?<!\\w)$k(?!\\w)".r.findFirstIn(matrix).isDefined)
    assert(missing.isEmpty, s"gates missing from the README coverage matrix: $missing")
  }

  test("every gate oracle SQL string is pinned") {
    val pairs = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, sql) => s"$k\t$sql\n" }.mkString
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(pairs.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(SparkEntry.oracleSql.size == 74)
    assert(sha == "487f925a5d4b0c75a5cb2e9e60b68b0b49252fd60e4a167c964354603421ab6c", "an oracleSql string changed")
  }
}
