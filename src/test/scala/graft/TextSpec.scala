package graft

import graft.core._
import graft.pipeline.FeatureExec
import graft.transformers._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import scala.collection.immutable.ArraySeq

/** Goldens from test_text_transformers.py (defaults: bigram jaccard, jw weight 0.1). */
class TextSpec extends SparkTestBase {
  private def ctx = AggContext(Nil, Seq(Idx), None)
  private def run(ts: FeatureTransformer*): DataFrame =
    FeatureExec.applyTransformers(basicFrame, ctx, ts)

  private val t1 = ColumnSpec.text("TEXT_FEATURE")
  private val t2 = ColumnSpec.text("TEXT_FEATURE_2")

  test("text similarity golden (defaults)") {
    val df = run(
      DamerauLevenshteinSimilarityTransformer(t1, t2),
      JaccardSimilarityTransformer(t1, t2),
      JaroSimilarityTransformer(t1, t2),
      JaroWinklerSimilarityTransformer(t1, t2))
    assertColumns(df, Map(
      "TEXT_FEATURE_damerau_levenshtein_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.142857, 0.714286, 0.5, 0.428571, 0.875),
      "TEXT_FEATURE_jaccard_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.5, 0.333333, 0.461538, 0.333333, 0.625),
      "TEXT_FEATURE_jaro_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.428571, 0.809524, 0.690476, 0.809524, 0.958333),
      "TEXT_FEATURE_jaro_winkler_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.428571, 0.809524, 0.690476, 0.866667, 0.970833)))
  }

  test("text similarity golden (pipeline params: substr 3, weight 0.2)") {
    val df = run(
      JaccardSimilarityTransformer(t1, t2, substrSize = 3),
      JaroWinklerSimilarityTransformer(t1, t2, weight = 0.2))
    assertColumns(df, Map(
      "TEXT_FEATURE_jaccard_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.25, 0.111111, 0.307692, 0.2, 0.375),
      "TEXT_FEATURE_jaro_winkler_text_similarity_TEXT_FEATURE_2" -> Seq(1.0, 0.428571, 0.809524, 0.690476, 0.92381, 0.983333)))
  }

  private lazy val textFrame: DataFrame = {
    val schema = StructType(Seq(
      StructField(Idx, IntegerType),
      StructField("TEXT_FEATURE", StringType), StructField("EMAIL", StringType)))
    val rows = Seq(
      Row(0, "john.doe@example.com", "louis@gmail.com"),
      Row(1, "USER123!!!", "user@seznam.cz"),
      Row(2, "aaaBBB111", "john.doe@email.com"),
      Row(3, "straße café 42", "london@gov.co.uk"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("text extraction golden (length, email domain, char entropy)") {
    val tf = ColumnSpec.text("TEXT_FEATURE"); val em = ColumnSpec.text("EMAIL")
    val df = FeatureExec.applyTransformers(textFrame, ctx, Seq(
      TextLengthTransformer(tf),
      EmailDomainExtractionTransformer(em),
      CharacterEntropyTransformer(tf)))
    assertColumns(df, Map(
      "TEXT_FEATURE_length_chars" -> Seq(20, 10, 9, 14),
      "EMAIL_email_domain" -> Seq("gmail.com", "seznam.cz", "email.com", "gov.co.uk"),
      "TEXT_FEATURE_character_entropy" -> Seq(3.64644, 2.84644, 1.58496, 3.52164)))
  }

  test("count matches golden incl. named patterns and non-ascii") {
    val tf = ColumnSpec.text("TEXT_FEATURE")
    val df = FeatureExec.applyTransformers(textFrame, ctx, Seq(
      TextCountMatchesTransformer(tf, """\d"""),
      TextCountMatchesTransformer(tf, """\d{3,}"""),
      TextCountMatchesTransformer(tf, """[A-Z]"""),
      TextCountMatchesTransformer(tf, """[^A-Za-z0-9]"""),
      TextCountMatchesTransformer(tf, """\s"""),
      TextCountMatchesTransformer(tf, """[^\x00-\x7F]""")))
    assertColumns(df, Map(
      "TEXT_FEATURE_count_digits" -> Seq(0, 3, 3, 2),
      "TEXT_FEATURE_count_consecutive_digits" -> Seq(0, 1, 1, 0),
      "TEXT_FEATURE_count_uppercase" -> Seq(0, 4, 3, 0),
      "TEXT_FEATURE_count_non_alphanumeric" -> Seq(3, 3, 0, 4),
      "TEXT_FEATURE_count_whitespace" -> Seq(0, 0, 0, 2),
      "TEXT_FEATURE_count_non_ascii" -> Seq(0, 0, 0, 2)))
  }

  test("email domain null on no-match; char entropy of empty string is 0") {
    val t3 = ColumnSpec.text("TEXT_FEATURE_3")
    val df = run(EmailDomainExtractionTransformer(t3), CharacterEntropyTransformer(t3))
    assertColumns(df, Map(
      "TEXT_FEATURE_3_email_domain" -> Seq("example.com", null, null, null, "co.gov.uk", null),
      "TEXT_FEATURE_3_character_entropy" -> Seq(3.64644, 2.84644, 1.58496, 3.52164, 3.49923, 0.0)))
  }

  test("text/hash kernels compile inside whole-stage codegen (no interpreted fallback)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.functions.{hashfns, textfns}
    // fallback=false turns a janino compile failure into a hard error instead of a
    // silent interpreted path; col-derived strings prevent constant folding
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val s1 = concat(lit("martha "), col("id").cast("string"))
      val s2 = concat(lit("marhta "), col("id").cast("string"))
      // the char-class counters through the transformer that picks them
      def countOf(regex: String) =
        TextCountMatchesTransformer(ColumnSpec.text("t"), regex).plan(ctx, new TempNamer).output
      val df = spark.range(64).withColumn("t", s1).select(
        textfns.damerauLevenshteinSim(s1, s2).as("dl"),
        textfns.jaroSim(s1, s2).as("jaro"),
        textfns.jaroWinklerSim(s1, s2).as("jw"),
        textfns.ngramJaccardSim(s1, s2, 2).as("jac"),
        textfns.charEntropy(s1).as("ent"),
        hashfns.simhash64(s1).as("sh"),
        hashfns.rollingFingerprint(s1).as("fp"),
        hashfns.minhashSignature(s1, 3, 16).as("sig"),
        hashfns.srpSketchBands(
          org.apache.spark.sql.functions.array(col("id").cast("double"),
            lit(1.0), -col("id").cast("double")), 16, 4).as("srp"),
        graft.functions.vecfns.cosineSim(
          org.apache.spark.sql.functions.array(col("id").cast("double"), lit(1.0)),
          org.apache.spark.sql.functions.array(col("id").cast("double"), lit(2.0))).as("cos"),
        textfns.multiContains(s1, Seq("martha 7", "absent pattern")).as("mc"),
        textfns.trigramLogProb(s1, new graft.functions.TrigramLmModel(
          Array(graft.functions.TrigramLmModel.packGram("mar")).sorted,
          Array(-1.0), -5.0)).as("lm"),
        textfns.packedTrigrams(s1).as("packed"),
        textfns.decodeCharset(org.apache.spark.sql.functions.encode(s1, "UTF-8"),
          org.apache.spark.sql.functions.when(col("id") % 2 === 0, lit("ISO-8859-1"))
            .otherwise(lit("bogus-charset"))).as("cs"),
        countOf("""\d""").as("digits"),
        countOf("[A-Za-z]").as("letters"),
        textfns.nfcNormalize(concat(s1, lit("e\u0301"))).as("nfc"),
        textfns.distinctShingles(s1, 3).as("shingles"),
        hashfns.tokenNgramHashes(s1, 2).as("tok2"),
        hashfns.minhashBandKeys(hashfns.minhashSignature(s1, 3, 16), 4, 4).as("bands"),
        hashfns.simhashBucketKeys(hashfns.simhash64(s1), 16,
          (0 until 4).combinations(2).toSeq).as("simkeys"),
        hashfns.md5Fraction(s1).as("md5f"))
      assert(df.count() == 64)
      // "*(1)" marks the WholeStageCodegen stage in the simple plan string
      assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
      // sanity: kernel values survive the codegen path
      val r = df.head
      assert(r.getDouble(0) > 0.8 && r.getDouble(1) > 0.9)
      assert(r.getLong(5) == graft.functions.HashKernels.simhash64("martha 0"))
      assert(r.getLong(6) == graft.functions.HashKernels.rollingFingerprint("martha 0"))
      assert(r.getSeq[Long](7).size == 16 && r.getSeq[Long](8).size == 4)
      assert(df.where(col("mc")).count() == 1) // only id=7 contains "martha 7"
      assert(r.getDouble(11) < 0 && r.getDouble(11) > -5.0) // one seen gram lifts the mean
      // "martha 0" -> 6 trigrams; first is "mar" = the packed model key above
      assert(r.getSeq[Long](12).size == 6 &&
        r.getSeq[Long](12).head == graft.functions.TrigramLmModel.packGram("mar"))
      assert(r.getString(13) == "martha 0") // ascii round-trips under any charset
      assert(r.getInt(14) == 1 && r.getInt(15) == 6)
      assert(r.getString(16) == "martha 0\u00e9") // e + combining acute composes
      assert(r.getSeq[String](17) == Seq("mar", "art", "rth", "tha", "ha ", "a 0"))
      assert(r.getSeq[Long](18).size == 1) // "martha 0": one token bigram
      assert(r.getSeq[Long](19).size == 4 && r.getSeq[Long](20).size == 6)
      assert(r.getDouble(21) >= 0.0 && r.getDouble(21) < 1.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("every kernel call gives the same values interpreted and under codegen (property)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{array, col, length, lit, lower}
    import graft.functions.{hashfns, textfns, CharClassKernels, KernelCall, TrigramLmModel}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // ASCII, Latin-1, combining marks, CJK, surrogate pairs (emoji, math letters),
    // control whitespace: every width UTF-8 and UTF-16 give a code point
    val piece = Gen.oneOf("a", "b", "Z", "7", " ", "\t", "\n", "-", "é", "e\u0301",
      "\u0308", "ß", "猫", "号", "\ud83c\udf89", "\ud835\udd38", "\u00a0", "ab", "b7")
    val text: Gen[String] = Gen.frequency(
      (1, Gen.const(null: String)), (1, Gen.const("")),
      (8, Gen.choose(1, 12).flatMap(Gen.listOfN(_, piece)).map(_.mkString)))
    val bytes: Gen[Array[Byte]] = Gen.frequency((1, Gen.const(null: Array[Byte])),
      (6, Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.choose(Byte.MinValue, Byte.MaxValue)))
        .map(_.toArray)))
    val charset = Gen.oneOf("UTF-8", "ISO-8859-1", "UTF-16", "bogus", "", null)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("a", StringType),
      StructField("b", StringType), StructField("bin", BinaryType), StructField("cs", StringType)))
    val model = {
      val grams = Seq("ab ", "猫号a", "\ud83c\udf89ab", "e\u0301b").map(TrigramLmModel.packGram)
        .zip(Seq(-1.0, -2.0, -0.5, -3.0)).sortBy(_._1)
      new TrigramLmModel(grams.map(_._1).toArray, grams.map(_._2).toArray, -6.0)
    }
    val a = col("a"); val b = col("b")
    val sig = hashfns.minhashSignature(a, 2, 8)
    val kernels: Seq[Column] = Seq(
      textfns.damerauLevenshteinSim(a, b), textfns.jaroSim(a, b),
      textfns.jaroWinklerSim(a, b), textfns.ngramJaccardSim(a, b, 2),
      textfns.charEntropy(a), textfns.nfcNormalize(a), textfns.distinctShingles(a, 2),
      textfns.multiContains(a, Seq("é", "\ud83c\udf89b", "ab", "7-")),
      textfns.packedTrigrams(a), textfns.trigramLogProb(a, model),
      textfns.decodeCharset(col("bin"), col("cs")),
      sig, hashfns.tokenNgramHashes(lower(a), 2), hashfns.minhashBandKeys(sig, 2, 4),
      hashfns.simhashBucketKeys(hashfns.simhash64(a), 16, (0 until 4).combinations(3).toSeq),
      hashfns.md5Fraction(a), hashfns.simhash64(a), hashfns.rollingFingerprint(a),
      KernelCall(graft.web.PrefixAgg, "bucketOf", IntegerType,
        length(a).cast("double"), new ArraySeq.ofDouble(Array(1.0, 3.0, 7.0)))) ++
      CharClassKernels.byRegex.keys.toSeq.sorted.map(rx =>
        TextCountMatchesTransformer(ColumnSpec.text("a"), rx).plan(ctx, new TempNamer).output)
    val rowGen = for {
      x <- text; y <- text; bin <- bytes; cs <- charset
    } yield (x, y, bin, cs)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, rowGen)) { rows =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
        case ((x, y, bin, cs), i) => Row(i, x, y, bin, cs) }, 2), schema)
        .select(col("id") +: kernels.zipWithIndex.map { case (k, i) => k.as(s"k$i") }: _*)
      def collectUnder(ws: String, mode: String): Seq[Row] = {
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        try df.orderBy("id").collect().toSeq
        finally {
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
      val interpreted = collectUnder("false", "NO_CODEGEN")
      val generated = collectUnder("true", "CODEGEN_ONLY")
      val bad = interpreted.zip(generated).filter { case (i, g) => i != g }
      Prop(bad.isEmpty && interpreted.size == rows.size) :|
        s"${bad.size} rows differ, first: ${bad.headOption}; rows=${rows.take(3)}"
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(org.scalacheck.rng.Seed(8L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("charEntropyU8's ASCII count table gives the bits of the sorting count (property)") {
    import graft.functions.TextKernels
    import java.lang.Double.doubleToRawLongBits
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // every ASCII code point, a four-letter alphabet (long runs of equal counts) and
    // multi-byte code points, which take the decode-and-sort path
    val ascii = Gen.frequency((1, Gen.choose(0, 127)), (1, Gen.choose(97, 100))).map(_.toChar.toString)
    val wide = Gen.oneOf("é", "e\u0301", "猫", "\ud83c\udf89", "ß", "\u00a0", "\u007f")
    val text = Gen.frequency(
      (6, Gen.choose(0, 400).flatMap(Gen.listOfN(_, ascii))),
      (2, Gen.choose(1, 60).flatMap(Gen.listOfN(_, Gen.frequency((8, ascii), (1, wide))))))
      .map(_.mkString)
    val prop = Prop.forAllNoShrink(text) { s =>
      val table = TextKernels.charEntropyU8(UTF8String.fromString(s))
      val sorted = TextKernels.charEntropy(s)
      Prop(doubleToRawLongBits(table) == doubleToRawLongBits(sorted)) :| s"$table vs $sorted for '$s'"
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(org.scalacheck.rng.Seed(23L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("charset cache: a junk-name flood keeps real entries and stays bounded") {
    import graft.functions.CharsetKernels
    import java.nio.charset.StandardCharsets
    assert(CharsetKernels.resolve("ISO-8859-1") == StandardCharsets.ISO_8859_1)
    assert(CharsetKernels.cache.containsKey("iso-8859-1"))
    (0 until 5000).foreach(i => assert(
      CharsetKernels.resolve(s"junk-charset-$i") == StandardCharsets.UTF_8))
    assert(CharsetKernels.cache.get("iso-8859-1") == StandardCharsets.ISO_8859_1)
    assert(CharsetKernels.cache.size() <= 4096)
  }

  test("vector kernels accept integer arrays and null elements null the result") {
    import org.apache.spark.sql.functions.{array, col, expr, lit}
    import graft.functions.{hashfns, vecfns}
    // int/long-quantized embeddings compute the same cosine and SRP keys as the
    // identical values in double arrays (every element widens to double first)
    val df = spark.range(1, 8).select(
      vecfns.cosineSim(
        array(col("id").cast("int"), lit(3).cast("int")),
        array(lit(2).cast("int"), col("id").cast("int"))).as("cos_int"),
      vecfns.cosineSim(
        array(col("id").cast("double"), lit(3.0)),
        array(lit(2.0), col("id").cast("double"))).as("cos_dbl"),
      hashfns.srpSketchBands(array(col("id").cast("long"), lit(-3L), lit(7L)), 16, 4).as("srp_long"),
      hashfns.srpSketchBands(array(col("id").cast("double"), lit(-3.0), lit(7.0)), 16, 4).as("srp_dbl"),
      vecfns.cosineSim(
        expr("array(cast(id as double), cast(null as double))"),
        array(lit(1.0), lit(2.0))).as("cos_null"),
      hashfns.srpSketchBands(
        expr("array(cast(id as double), cast(null as double))"), 16, 4).as("srp_null"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "int cosine != double cosine")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "long SRP keys != double SRP keys")
      assert(r.isNullAt(4), "cosine over a null element must be null")
      assert(r.isNullAt(5), "SRP sketch over a null element must be null, not a fabricated key")
    }
  }
}
