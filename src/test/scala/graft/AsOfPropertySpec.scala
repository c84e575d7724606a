package graft

import graft.web.AsOfJoin
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.sql.Timestamp

/** Property test (SURVEY §5.2): for arbitrary key/timestamp distributions — duplicate
  * timestamps, keys with no right rows, events before the first snapshot — the as-of
  * join must equal the brute-force oracle at every row, inclusive and strict, with and
  * without a tolerance.
  */
class AsOfPropertySpec extends SparkTestBase {

  // includes null keys: the as-of join groups NULL keys into one partition
  private val keyGen = Gen.frequency(
    (9, Gen.choose(0, 5).map(i => s"k$i")), (1, Gen.const(null: String)))
  private val tsGen = Gen.choose(0L, 2000L) // seconds; collisions on purpose
  private val rightRowGen = Gen.zip(keyGen, tsGen)
  private val leftRowGen = Gen.zip(keyGen, tsGen)

  private def ts(sec: Long) = Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  test("as-of join equals brute force on random inputs (inclusive, strict, tolerance, strict+tolerance)") {
    val prop = Prop.forAll(
      Gen.listOfN(60, leftRowGen), Gen.listOfN(40, rightRowGen)) { (lefts, rights0) =>
      // de-duplicate right (key, ts): as-of is ambiguous under full ties
      val rights = rights0.distinct
      val leftSchema = StructType(Seq(StructField("k", StringType),
        StructField("ts", TimestampType), StructField("lid", IntegerType)))
      val rightSchema = StructType(Seq(StructField("k", StringType),
        StructField("rts", TimestampType), StructField("payload", StringType)))
      val leftDf = spark.createDataFrame(
        spark.sparkContext.parallelize(lefts.zipWithIndex.map { case ((k, t), i) => Row(k, ts(t), i) }, 3),
        leftSchema)
      val rightDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rights.map { case (k, t) => Row(k, ts(t), s"$k@$t") }, 2),
        rightSchema)

      def expected(strict: Boolean, tolerance: Option[Long] = None): Map[Int, Option[String]] =
        lefts.zipWithIndex.map { case ((k, t), i) =>
          val cand = rights.filter(r => r._1 == k && (if (strict) r._2 < t else r._2 <= t))
            .filter(r => tolerance.forall(tol => t - r._2 <= tol))
          i -> (if (cand.isEmpty) None else {
            val m = cand.maxBy(_._2)
            Some(s"${m._1}@${m._2}")
          })
        }.toMap

      def actual(df: org.apache.spark.sql.DataFrame): Map[Int, Option[String]] =
        df.select("lid", "payload").collect()
          .map(r => r.getInt(0) -> Option(r.getString(1))).toMap

      val plain = actual(AsOfJoin.backward(leftDf, rightDf, Seq("k"), "ts",
        Seq("k"), "rts", Seq("payload")))
      val plainTol = actual(AsOfJoin.backward(leftDf, rightDf, Seq("k"), "ts",
        Seq("k"), "rts", Seq("payload"), tolerance = Some(500L)))
      val strictRes = actual(AsOfJoin.backward(leftDf, rightDf, Seq("k"), "ts",
        Seq("k"), "rts", Seq("payload"), strict = true))
      val strictTol = actual(AsOfJoin.backward(leftDf, rightDf, Seq("k"), "ts",
        Seq("k"), "rts", Seq("payload"), strict = true, tolerance = Some(500L)))

      val e = expected(strict = false); val eStrict = expected(strict = true)
      val eTol = expected(strict = false, tolerance = Some(500L))
      val eStrictTol = expected(strict = true, tolerance = Some(500L))
      Prop.all(
        Prop(plain == e) :| "plain mismatch",
        Prop(plainTol == eTol) :| "plain tolerance mismatch",
        Prop(strictRes == eStrict) :| "strict mismatch",
        Prop(strictTol == eStrictTol) :| "strict tolerance mismatch")
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(result.passed, result.status.toString)
  }
}
