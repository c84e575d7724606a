package graft

import graft.core._
import graft.dataset.GraftDataset
import graft.selection._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Goldens from feature_selection/tests/test_feature_selector.py:84-143. */
class FeatureSelectorSpec extends SparkTestBase {

  private lazy val ds: GraftDataset = {
    val schema = StructType(Seq(
      StructField(Idx, IntegerType),
      StructField("x_1", IntegerType), StructField("x2", IntegerType),
      StructField("x3", BooleanType), StructField("x4", IntegerType),
      StructField("z1", StringType), StructField("z2", StringType),
      StructField("y", BooleanType)))
    val rows = Seq(
      Row(0, 0, 10, false, 2, "a", "hello", false),
      Row(1, 0, 9, true, 4, "b", "world", true),
      Row(2, 0, 8, false, 6, "b", "foo", false),
      Row(3, 0, 7, true, 8, "c", "bar", true))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    GraftDataset(df, FeatureSchema(
      ColumnSpec.numeric("x_1"), ColumnSpec.numeric("x2"),
      ColumnSpec.boolean("x3"), ColumnSpec.numeric("x4"),
      ColumnSpec.nominal("z1"), ColumnSpec.text("z2"),
      ColumnSpec.boolean("y", ColRole.Label)), Seq(Idx))
  }

  test("correlation golden (zero variance → 0, perfect predictor → 1)") {
    val r = FeatureSelector.getReport(ds, Seq("x_1", "x2", "x3", "x4"), SelectionMethod.Correlation).toMap
    assert(valueEq(r("x_1"), 0.0), r)
    assert(valueEq(r("x2"), 0.447214), r)
    assert(valueEq(r("x3"), 1.0), r)
    assert(valueEq(r("x4"), 0.447214), r)
  }

  test("t-test golden (exact separation → Inf)") {
    val r = FeatureSelector.getReport(ds, Seq("x_1", "x2", "x3", "x4"), SelectionMethod.TTest).toMap
    assert(valueEq(r("x_1"), 0.0), r)
    assert(valueEq(r("x2"), 0.707107), r)
    assert(r("x3") == Double.PositiveInfinity, r)
    assert(valueEq(r("x4"), 0.707107), r)
  }

  test("chi-squared golden") {
    val r = FeatureSelector.getReport(ds, Seq("x3", "z1"), SelectionMethod.ChiSquared).toMap
    assert(valueEq(r("x3"), 4.0), r)
    assert(valueEq(r("z1"), 2.0), r)
  }

  test("selectFeatures ranks stat desc then name asc; validates args") {
    val report = SelectionReport(SelectionMethod.Correlation,
      Seq("b" -> 1.0, "a" -> 1.0, "c" -> 0.5))
    assert(FeatureSelector.selectFeatures(report, topK = Some(2)) == Seq("a", "b"))
    assert(FeatureSelector.selectFeatures(report, frac = Some(0.67)) == Seq("a", "b"))
    assertThrows[IllegalArgumentException](FeatureSelector.selectFeatures(report))
    assertThrows[IllegalArgumentException](FeatureSelector.selectFeatures(report, topK = Some(0)))
    assertThrows[IllegalArgumentException](FeatureSelector.selectFeatures(report, frac = Some(1.5)))
  }

  test("job count does not scale with feature count (one melted pass per method)") {
    def jobsFor(features: Seq[String], method: SelectionMethod): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        FeatureSelector.getReport(ds, features, method)
        org.apache.spark.sql.graftbridge.InternalBridge.drainListeners(spark.sparkContext)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val numeric = Seq("x_1", "x2", "x3", "x4")
    for ((method, many) <- Seq(SelectionMethod.Correlation -> numeric,
        SelectionMethod.TTest -> numeric, SelectionMethod.ChiSquared -> Seq("x3", "z1"))) {
      val one = jobsFor(many.take(1), method)
      val all = jobsFor(many, method)
      assert(all == one, s"${method.label}: expected the melted pass to cost $one job(s) " +
        s"regardless of features, got $all")
    }
  }

  test("t-test with a single-class label yields 0 instead of throwing") {
    val oneClass = GraftDataset(ds.df.where(org.apache.spark.sql.functions.col("y") === true),
      ds.schema, Seq(Idx))
    val r = FeatureSelector.getReport(oneClass, Seq("x2", "x4"), SelectionMethod.TTest).toMap
    assert(r == Map("x2" -> 0.0, "x4" -> 0.0), r)
  }

  test("type gates") {
    assertThrows[IllegalArgumentException] {
      FeatureSelector.getReport(ds, Seq("z2"), SelectionMethod.Correlation)
    }
    assertThrows[IllegalArgumentException] {
      FeatureSelector.getReport(ds, Seq("x_1"), SelectionMethod.ChiSquared)
    }
  }

  // The wide single-row formulas the melted aggregation replaced, kept as the oracle:
  // one aggregate with a few buffer fields per feature.
  private def wideCorrelation(df: DataFrame, features: Seq[String], label: String): Seq[(String, Double)] = {
    val lbl = col(label).cast("double")
    val aggs = features.map { f =>
      val d = col(f).cast("double")
      val denom = stddev_samp(d) * stddev_samp(lbl)
      when(denom === 0.0 || denom.isNull, lit(null)).otherwise(covar_samp(d, lbl) / denom).as(f)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    features.zipWithIndex.map { case (f, i) =>
      val v = if (row.isNullAt(i)) 0.0 else row.getDouble(i)
      f -> (if (v.isNaN) 0.0 else math.abs(v))
    }
  }

  private def wideTTest(df: DataFrame, features: Seq[String], label: String): Seq[(String, Double)] = {
    val lbl = col(label).cast("boolean")
    val aggs = features.flatMap { f =>
      val d = col(f).cast("double")
      Seq(avg(d).as(s"${f}_mean"), var_samp(d).as(s"${f}_var"))
    } :+ count(lit(1)).as("cnt")
    val byClass: Map[Boolean, Row] =
      df.where(lbl.isNotNull).groupBy(lbl.as("__lbl")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getBoolean(0) -> r).toMap
    (byClass.get(true), byClass.get(false)) match {
      case (Some(t), Some(fRow)) =>
        def get(r: Row, name: String): Double = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
        }
        val nT = t.getLong(t.fieldIndex("cnt")).toDouble
        val nF = fRow.getLong(fRow.fieldIndex("cnt")).toDouble
        features.map { f =>
          val meanDiff = math.abs(get(t, s"${f}_mean") - get(fRow, s"${f}_mean"))
          val denom = math.sqrt(get(t, s"${f}_var") / nT + get(fRow, s"${f}_var") / nF)
          val stat = meanDiff / denom
          f -> (if (stat.isNaN) 0.0 else stat)
        }
      case _ => features.map(_ -> 0.0)
    }
  }

  private def nullable[T](g: Gen[T]): Gen[Any] =
    Gen.frequency((6, g), (1, Gen.const(null)))

  /** One feature column of `n` values: numeric (with nulls), constant, all-null,
    * ordinal (small ints) or boolean.
    */
  private def featureGen(n: Int): Gen[(DataType, ColType, Seq[Any])] = Gen.oneOf(
    Gen.listOfN(n, nullable(Gen.choose(-1e3, 1e3))).map((DoubleType, ColType.Numeric, _)),
    Gen.choose(-5.0, 5.0).map(v => (DoubleType, ColType.Numeric, Seq.fill(n)(v))),
    Gen.const((DoubleType, ColType.Numeric, Seq.fill(n)(null))),
    Gen.listOfN(n, nullable(Gen.choose(0, 4))).map((IntegerType, ColType.Ordinal, _)),
    Gen.listOfN(n, nullable(Gen.oneOf(true, false))).map((BooleanType, ColType.Boolean, _)))

  test("melted correlation and t-test are bit-equal to the wide formulas they replaced") {
    val inputGen = for {
      n <- Gen.choose(0, 40)
      k <- Gen.frequency((3, Gen.choose(1, 12)), (1, Gen.choose(13, 150)))
      feats <- Gen.listOfN(k, featureGen(n))
      y <- Gen.oneOf(Gen.listOfN(n, nullable(Gen.oneOf(true, false))),
        Gen.listOfN(n, nullable(Gen.const(true)))) // single-class label
      yn <- Gen.listOfN(n, nullable(Gen.choose(-10.0, 10.0)))
      parts <- Gen.oneOf(1, 3, 7)
    } yield (feats, y, yn, parts)
    val prop = Prop.forAllNoShrink(inputGen) { case (feats, y, yn, parts) =>
      val names = feats.indices.map(i => s"f$i")
      val schema = StructType(StructField("y", BooleanType) +: StructField("yn", DoubleType) +:
        feats.zip(names).map { case ((t, _, _), f) => StructField(f, t) })
      val rows = y.indices.map(r => Row.fromSeq(y(r) +: yn(r) +: feats.map(_._3(r))))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      val specs = feats.zip(names).map { case ((_, t, _), f) => ColumnSpec(f, t, ColRole.Feature) }
      def report(label: ColumnSpec, method: SelectionMethod): Seq[(String, Double)] =
        FeatureSelector.getReport(GraftDataset(df, FeatureSchema((specs :+ label): _*), Nil),
          names, method).stats
      def bits(stats: Seq[(String, Double)]) =
        stats.map { case (f, v) => f -> java.lang.Double.doubleToLongBits(v) }
      val yLabel = ColumnSpec.boolean("y", ColRole.Label)
      Prop.all(
        Prop(bits(report(yLabel, SelectionMethod.Correlation)) == bits(wideCorrelation(df, names, "y"))) :|
          "correlation, boolean label",
        Prop(bits(report(ColumnSpec.numeric("yn", ColRole.Label), SelectionMethod.Correlation)) ==
          bits(wideCorrelation(df, names, "yn"))) :| "correlation, numeric label",
        Prop(bits(report(yLabel, SelectionMethod.TTest)) == bits(wideTTest(df, names, "y"))) :| "t-test")
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(org.scalacheck.rng.Seed(7L)), prop)
    assert(result.passed, result.status.toString)
  }
}
