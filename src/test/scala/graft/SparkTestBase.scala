package graft

import graft.core._
import graft.dataset.GraftDataset
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import java.time.Instant

/** Shared local SparkSession + the reference's BASIC_FRAME fixture
  * (/root/reference/src/auto_featurs/utils/utils_for_tests.py:8-22) with an explicit
  * ingestion row index standing in for Polars' physical row order.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  val Idx = "row_idx"

  /** Runs `body` on a fresh temp directory, then deletes the directory. */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  def ts(day: Int): Timestamp = Timestamp.from(Instant.parse(f"2000-01-$day%02dT00:00:00Z"))

  lazy val basicFrame: DataFrame = {
    val schema = StructType(Seq(
      StructField(Idx, IntegerType),
      StructField("NUMERIC_FEATURE", IntegerType),
      StructField("NUMERIC_FEATURE_2", IntegerType),
      StructField("CATEGORICAL_FEATURE", StringType),
      StructField("CATEGORICAL_FEATURE_2", StringType),
      StructField("GROUPING_FEATURE_NUM", StringType),
      StructField("GROUPING_FEATURE_CAT_2", StringType),
      StructField("DATE_FEATURE", TimestampType),
      StructField("BOOL_FEATURE", BooleanType),
      StructField("TEXT_FEATURE", StringType),
      StructField("TEXT_FEATURE_2", StringType),
      StructField("TEXT_FEATURE_3", StringType)))
    val rows = Seq(
      Row(0, 0, 0, "A", "F", "ZERO", "CONSONANT", ts(1), true, "foo bar", "foo bar", "john.doe@example.com"),
      Row(1, 1, -1, "B", "E", "ODD", "VOWEL", ts(2), false, "foo bar", "bar foo", "USER123!!!"),
      Row(2, 2, -2, "C", "D", "EVEN", "CONSONANT", ts(3), true, "foo bar", "Foo Bar", "aaaBBB111"),
      Row(3, 3, -3, "D", "C", "ODD", "CONSONANT", ts(4), false, "foo bar", "foo insert bar", "straße café 42"),
      Row(4, 4, -4, "E", "B", "EVEN", "CONSONANT", ts(5), true, "foo bar", "foo", "foo-bar@co.gov.uk"),
      Row(5, 5, -5, "F", "A", "ODD", "VOWEL", ts(6), false, "foo bar", "foos bar", ""))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  def basicSchema(roles: Map[String, ColRole] = Map.empty): FeatureSchema = {
    def role(n: String): ColRole = roles.getOrElse(n, ColRole.Feature)
    FeatureSchema(
      ColumnSpec.numeric("NUMERIC_FEATURE", role("NUMERIC_FEATURE")),
      ColumnSpec.numeric("NUMERIC_FEATURE_2", role("NUMERIC_FEATURE_2")),
      ColumnSpec.ordinal("CATEGORICAL_FEATURE", role("CATEGORICAL_FEATURE")),
      ColumnSpec.nominal("CATEGORICAL_FEATURE_2", role("CATEGORICAL_FEATURE_2")),
      ColumnSpec.nominal("GROUPING_FEATURE_NUM", role("GROUPING_FEATURE_NUM")),
      ColumnSpec.nominal("GROUPING_FEATURE_CAT_2", role("GROUPING_FEATURE_CAT_2")),
      ColumnSpec.datetime("DATE_FEATURE", role("DATE_FEATURE")),
      ColumnSpec.boolean("BOOL_FEATURE", role("BOOL_FEATURE")),
      ColumnSpec.text("TEXT_FEATURE", role("TEXT_FEATURE")),
      ColumnSpec.text("TEXT_FEATURE_2", role("TEXT_FEATURE_2")),
      ColumnSpec.text("TEXT_FEATURE_3", role("TEXT_FEATURE_3")))
  }

  def basicDataset(roles: Map[String, ColRole] = Map.empty): GraftDataset =
    GraftDataset(basicFrame, basicSchema(roles), Seq(Idx))

  /** Value-level comparison mirroring the reference's assert_frame_equal with
    * check_dtypes=False: numeric allclose (1e-5 abs — goldens are 6-dp rounded),
    * NaN == NaN, null == null, bools may compare against 0/1.
    */
  def assertColumn(df: DataFrame, column: String, expected: Seq[Any]): Unit = {
    val actual = df.orderBy(Idx).select(column).collect().map(_.get(0)).toSeq
    assert(actual.size == expected.size, s"$column: row count ${actual.size} != ${expected.size}")
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assert(valueEq(a, e), s"$column[$i]: actual=$a expected=$e (all actual: $actual)")
    }
  }

  def assertColumns(df: DataFrame, expected: Map[String, Seq[Any]]): Unit =
    expected.foreach { case (c, v) => assertColumn(df, c, v) }

  private def toD(x: Any): Option[Double] = x match {
    case n: java.lang.Number => Some(n.doubleValue())
    case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
    case _ => None
  }

  def valueEq(a: Any, e: Any): Boolean = (a, e) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x, y) =>
      (toD(x), toD(y)) match {
        case (Some(d1), Some(d2)) =>
          (d1.isNaN && d2.isNaN) || d1 == d2 || math.abs(d1 - d2) <= 1e-5 ||
            (d2 != 0 && math.abs(d1 / d2 - 1) <= 1e-6)
        case _ => x == y
      }
  }
}
