package graft

import graft.core._
import graft.pipeline.FeatureExec
import graft.transformers._
import org.apache.spark.sql.DataFrame

/** Goldens from test_numeric_transformers.py / test_comparison_transformers.py /
  * test_datetime_transformers.py.
  */
class ScalarSpec extends SparkTestBase {
  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity
  private val NegInf = Double.NegativeInfinity

  private def ctx = AggContext(Nil, Seq(Idx), None)
  private def run(ts: FeatureTransformer*): DataFrame =
    FeatureExec.applyTransformers(basicFrame, ctx, ts)

  private val num = ColumnSpec.numeric("NUMERIC_FEATURE")
  private val num2 = ColumnSpec.numeric("NUMERIC_FEATURE_2")
  private val bool = ColumnSpec.boolean("BOOL_FEATURE")
  private val date = ColumnSpec.datetime("DATE_FEATURE")

  test("polynomial / log / goniometric / scaling golden") {
    val df = run(
      PolynomialTransformer(num, 2), PolynomialTransformer(num2, 3),
      LogTransformer(num), LogTransformer(num, 10),
      SinTransformer(num), CosTransformer(num),
      StandardScaler(num), MinMaxScaler(num))
    assertColumns(df, Map(
      "NUMERIC_FEATURE_pow_2" -> Seq(0, 1, 4, 9, 16, 25),
      "NUMERIC_FEATURE_2_pow_3" -> Seq(0, -1, -8, -27, -64, -125),
      "NUMERIC_FEATURE_ln" -> Seq(NegInf, 0.0, 0.69314718, 1.09861229, 1.38629436, 1.60943791),
      "NUMERIC_FEATURE_log10" -> Seq(NegInf, 0.0, 0.30103, 0.47712125, 0.60205999, 0.69897),
      "NUMERIC_FEATURE_sin" -> Seq(0.0, 0.84147098, 0.90929743, 0.14112001, -0.7568025, -0.95892427),
      "NUMERIC_FEATURE_cos" -> Seq(1.0, 0.54030231, -0.41614684, -0.9899925, -0.65364362, 0.28366219),
      "NUMERIC_FEATURE_standard_scaled" -> Seq(-1.336306, -0.801784, -0.267261, 0.267261, 0.801784, 1.336306),
      "NUMERIC_FEATURE_minmax_scaled" -> Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0)))
  }

  test("arithmetic incl. division and bool coercion golden") {
    val df = run(
      AddTransformer(num, num2), SubtractTransformer(num2, num),
      MultiplyTransformer(num2, num), DivideTransformer(num2, num),
      AddTransformer(num, bool), SubtractTransformer(num, bool),
      MultiplyTransformer(num, bool), DivideTransformer(num, bool))
    assertColumns(df, Map(
      "NUMERIC_FEATURE_add_NUMERIC_FEATURE_2" -> Seq(0, 0, 0, 0, 0, 0),
      "NUMERIC_FEATURE_2_subtract_NUMERIC_FEATURE" -> Seq(0, -2, -4, -6, -8, -10),
      "NUMERIC_FEATURE_2_multiply_NUMERIC_FEATURE" -> Seq(0, -1, -4, -9, -16, -25),
      "NUMERIC_FEATURE_2_divide_NUMERIC_FEATURE" -> Seq(NaN, -1.0, -1.0, -1.0, -1.0, -1.0),
      "NUMERIC_FEATURE_add_BOOL_FEATURE" -> Seq(1, 1, 3, 3, 5, 5),
      "NUMERIC_FEATURE_subtract_BOOL_FEATURE" -> Seq(-1, 1, 1, 3, 3, 5),
      "NUMERIC_FEATURE_multiply_BOOL_FEATURE" -> Seq(0, 0, 2, 0, 4, 0),
      "NUMERIC_FEATURE_divide_BOOL_FEATURE" -> Seq(0.0, Inf, 2.0, Inf, 4.0, Inf)))
  }

  test("IEEE division: zero divisor keeps its sign (x / -0.0 → ∓Inf)") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val df = Seq((1.0, 0.0), (1.0, -0.0), (-1.0, -0.0), (0.0, -0.0), (-2.0, 0.0))
      .toDF("l", "r")
      .select(graft.core.PolarsCompat.ieeeDiv(col("l"), col("r")).as("q"))
    assert(df.collect().map(_.getDouble(0)).map(d => if (d.isNaN) "NaN" else d.toString).toSeq ==
      Seq("Infinity", "-Infinity", "Infinity", "NaN", "-Infinity"))
  }

  /** The `when` chains [[PolarsCompat]] used before its kernels: the oracle the
    * kernels are held to.
    */
  private object WhenChains {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    private val (nanLit, posInfLit, negInfLit) = (lit(NaN), lit(Inf), lit(NegInf))
    def div(lRaw: Column, rRaw: Column): Column = {
      val l = lRaw.cast("double")
      val r = rRaw.cast("double")
      val divisorSign = when(r.cast("string").startsWith("-"), -1.0).otherwise(1.0)
      when(isnan(l) || isnan(r), nanLit)
        .when(r === 0.0, when(l === 0.0, nanLit).otherwise(signum(l) * divisorSign * posInfLit))
        .otherwise(l / r)
    }
    def logBase(base: Double, cRaw: Column): Column = {
      val c = cRaw.cast("double")
      when(isnan(c), nanLit).when(c === 0.0, negInfLit).when(c < 0.0, nanLit).otherwise(log(base, c))
    }
    def log2Of(c: Column): Column =
      when(isnan(c), nanLit).when(c === 0.0, negInfLit).when(c < 0.0, nanLit).otherwise(log2(c))
  }

  test("IEEE kernels equal the when-chains they replaced, bit for bit (property)") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the raw bits, taken inside the generated code before any row write
    def bits(c: Column): Column = ColumnBridge.column(StaticInvoke(classOf[java.lang.Double],
      LongType, "doubleToRawLongBits", Seq(ColumnBridge.expression(c))))
    val special: Seq[java.lang.Double] = Seq(0.0, -0.0, NaN, Inf, NegInf, 1.0, -1.0, 2.0, 0.5,
      Double.MinPositiveValue, -Double.MinPositiveValue, 2.2e-308, Double.MaxValue, -Double.MaxValue,
      java.lang.Double.longBitsToDouble(0xfff8000000000001L)).map(Double.box)
    val value: Gen[java.lang.Double] = Gen.frequency((1, Gen.const(null: java.lang.Double)),
      (4, Gen.oneOf(special)),
      (3, Gen.long.map(b => Double.box(java.lang.Double.longBitsToDouble(b)))),
      (2, Gen.choose(-1e3, 1e3).map(Double.box)), (2, Gen.choose(-3, 3).map(i => Double.box(i.toDouble))))
    val bases = Seq(math.E, 10.0, 2.0, 0.5, 1.0, 0.0, -2.0, NaN)
    val (l, r) = (col("l"), col("r"))
    val pairs: Seq[(String, Column, Column)] =
      Seq(("div", WhenChains.div(l, r), PolarsCompat.ieeeDiv(l, r)),
        ("log2", WhenChains.log2Of(l), PolarsCompat.ieeeLog2(l)),
        ("pmi", WhenChains.log2Of(WhenChains.div(l, r)), PolarsCompat.ieeeLog2(PolarsCompat.ieeeDiv(l, r)))) ++
      bases.map(b => (s"log$b", WhenChains.logBase(b, l), PolarsCompat.ieeeLog(b, l)))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("l", DoubleType), StructField("r", DoubleType)))
    def frame(rows: Seq[(java.lang.Double, java.lang.Double)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
        case ((a, b), i) => Row(i, a, b) }, 2), schema)
    /** Rows where an old and a new column differ in nullness or raw bits, under `mode`. */
    def mismatches(rows: Seq[(java.lang.Double, java.lang.Double)], mode: String): Seq[String] = {
      val df = frame(rows).select(col("id") +: pairs.flatMap { case (n, o, k) =>
        Seq(bits(o).as(s"${n}_old"), bits(k).as(s"${n}_new")) }: _*)
      spark.conf.set("spark.sql.codegen.wholeStage", mode == "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      val out = try df.orderBy("id").collect().toSeq finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      assert(out.size == rows.size)
      out.flatMap { row =>
        pairs.indices.collect { case j if row.get(1 + 2 * j) != row.get(2 + 2 * j) =>
          s"${pairs(j)._1}${rows(row.getInt(0))}: ${row.get(1 + 2 * j)} vs ${row.get(2 + 2 * j)}" }
      }
    }
    // every pair of specials and null, then random pairs; codegen'd and interpreted
    val grid = for (a <- special :+ null; b <- special :+ null) yield (a, b)
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { m =>
      val bad = mismatches(grid, m)
      assert(bad.isEmpty, bad.take(5))
    }
    val prop = Prop.forAllNoShrink(Gen.listOfN(60, Gen.zip(value, value))) { rows =>
      val bad = mismatches(rows, "CODEGEN_ONLY") ++ mismatches(rows, "NO_CODEGEN")
      Prop(bad.isEmpty) :| bad.take(5).mkString("; ")
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(org.scalacheck.rng.Seed(17L)), prop)
    assert(result.passed, result.status.toString)
    // the same output nullability, over nullable and over non-nullable inputs
    val nonNull = spark.range(2).select(col("id").cast("double").as("l"), lit(1.0).as("r"))
    Seq(frame(grid), nonNull).foreach { in =>
      val fields = in.select(pairs.flatMap { case (n, o, k) =>
        Seq(o.as(s"${n}_old"), k.as(s"${n}_new")) }: _*).schema.fields
      assert(fields.grouped(2).forall { case Array(o, k) => o.nullable == k.nullable },
        fields.mkString(", "))
    }
  }

  test("comparisons golden (incl. lexicographic strings)") {
    val cat = ColumnSpec.ordinal("CATEGORICAL_FEATURE")
    val cat2 = ColumnSpec.nominal("CATEGORICAL_FEATURE_2")
    val df = run(
      EqualTransformer(num, num2), GreaterThanTransformer(cat, cat2),
      GreaterOrEqualTransformer(cat2, cat))
    assertColumns(df, Map(
      "NUMERIC_FEATURE_equal_NUMERIC_FEATURE_2" -> Seq(true, false, false, false, false, false),
      "CATEGORICAL_FEATURE_greater_than_CATEGORICAL_FEATURE_2" -> Seq(false, false, false, true, true, true),
      "CATEGORICAL_FEATURE_2_greater_or_equal_CATEGORICAL_FEATURE" -> Seq(true, true, true, false, false, false)))
  }

  test("seasonal golden (ISO weekday, angular sin/cos)") {
    val df = run(
      DayOfWeekTransformer(date),
      HourOfDayTransformer(date),
      MonthOfYearTransformer(date),
      DayOfWeekTransformer(date, angular = true, gon = Some(GonTransformation.Sin)),
      DayOfWeekTransformer(date, angular = true, gon = Some(GonTransformation.Cos)))
    assertColumns(df, Map(
      "DATE_FEATURE_day_of_week" -> Seq(6, 7, 1, 2, 3, 4),
      "DATE_FEATURE_hour_of_day" -> Seq(0, 0, 0, 0, 0, 0),
      "DATE_FEATURE_month_of_year" -> Seq(1, 1, 1, 1, 1, 1),
      "DATE_FEATURE_day_of_week_angular_sin" -> Seq(-0.974928, -0.781831, 0.0, 0.781831, 0.974928, 0.433884),
      "DATE_FEATURE_day_of_week_angular_cos" -> Seq(-0.222521, 0.62349, 1.0, 0.62349, -0.222521, -0.900969)))
  }

  test("time diff truncation golden (25h 1s → 25h, 1d)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import java.sql.Timestamp
    import java.time.Instant
    def t(s: String) = Timestamp.from(Instant.parse(s))
    val schema = StructType(Seq(
      StructField(Idx, IntegerType),
      StructField("DATE_FEATURE_2", TimestampType), StructField("DATE_FEATURE", TimestampType)))
    val rows = Seq(
      Row(0, t("2018-01-01T01:00:01Z"), t("2018-01-02T02:00:02Z")),
      Row(1, t("2018-01-02T02:00:02Z"), t("2018-01-03T03:00:03Z")),
      Row(2, t("2018-01-03T03:00:03Z"), t("2018-01-04T04:00:04Z")))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val d1 = ColumnSpec.datetime("DATE_FEATURE"); val d2 = ColumnSpec.datetime("DATE_FEATURE_2")
    val df = FeatureExec.applyTransformers(frame, ctx, Seq(
      TimeDiffTransformer(d1, d2, "s"), TimeDiffTransformer(d1, d2, "h"), TimeDiffTransformer(d1, d2, "d")))
    assertColumns(df, Map(
      "DATE_FEATURE_total_seconds_diff_DATE_FEATURE_2" -> Seq(90001, 90001, 90001),
      "DATE_FEATURE_total_hours_diff_DATE_FEATURE_2" -> Seq(25, 25, 25),
      "DATE_FEATURE_total_days_diff_DATE_FEATURE_2" -> Seq(1, 1, 1)))
  }
}
