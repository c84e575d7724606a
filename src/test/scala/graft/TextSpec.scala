package graft

import graft.core._
import graft.pipeline.FeatureExec
import graft.transformers._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

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

  test("graft_* SQL functions register and evaluate (SQL surface)") {
    graft.functions.graftsql.registerAll(spark)
    val r = spark.sql(
      "SELECT graft_jaro_sim('martha', 'marhta') AS j, " +
        "graft_jaro_winkler_sim('martha', 'marhta') AS jw, " +
        "graft_damerau_levenshtein_sim('martha', 'marhta') AS dl, " +
        "graft_jaccard2_sim('night', 'nacht') AS jac, " +
        "graft_char_entropy('aabb') AS ent, " +
        "graft_nfc('café') AS nfc, " +
        "graft_simhash64('hello world') AS sh, " +
        "graft_fingerprint('hello world') AS fp, " +
        "graft_minhash('hello world', 3, 8) AS mh, " +
        "graft_srp_bands(array(1.0D, -2.0D, 0.5D), 16, 4) AS srp").head
    assert(valueEq(r.getDouble(0), 0.944444))
    assert(valueEq(r.getDouble(1), 0.961111))
    assert(valueEq(r.getDouble(2), 1.0 - 1.0 / 6))
    assert(valueEq(r.getDouble(4), 1.0))
    assert(r.getString(5) == "café")
    assert(r.getLong(6) == graft.functions.HashKernels.simhash64("hello world"))
    assert(r.getLong(7) == graft.functions.HashKernels.rollingFingerprint("hello world"))
    assert(r.getSeq[Long](8).size == 8)
    assert(r.getSeq[Long](9).size == 4)
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
      val df = spark.range(64).select(
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
            .otherwise(lit("bogus-charset"))).as("cs"))
      assert(df.count() == 64)
      // "*(1)" marks the WholeStageCodegen stage in the simple plan string
      assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
      // sanity: kernel values survive the codegen path
      val r = df.head
      assert(r.getDouble(0) > 0.8 && r.getDouble(1) > 0.9)
      assert(r.getSeq[Long](7).size == 16)
      assert(df.where(col("mc")).count() == 1) // only id=7 contains "martha 7"
      assert(r.getDouble(11) < 0 && r.getDouble(11) > -5.0) // one seen gram lifts the mean
      // "martha 0" -> 6 trigrams; first is "mar" = the packed model key above
      assert(r.getSeq[Long](12).size == 6 &&
        r.getSeq[Long](12).head == graft.functions.TrigramLmModel.packGram("mar"))
      assert(r.getString(13) == "martha 0") // ascii round-trips under any charset
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
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
