package graft

import graft.data._
import graft.functions.TextKernels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Training-data ops: dedup family vs brute-force oracles, ANN recall, text analysis.
  * Runs on the driver-provided documents/embeddings tables plus synthesized
  * near-duplicates.
  */
class DataOpsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val embeddings: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  /** documents plus exact copies and lightly-perturbed near-copies with known ids. */
  private lazy val docsWithDups: DataFrame = {
    val base = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 200)
    val exact = base.where(col("doc_id") < 20)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val near = base.where(col("doc_id") >= 20 && col("doc_id") < 40)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" xyzzy")).as("text"))
    base.unionByName(exact).unionByName(near).cache()
  }

  test("exact dedup finds precisely the planted copies") {
    val r = Dedup.exact(docsWithDups, "doc_id", "text")
    val dups = r.where(col("is_duplicate")).select("doc_id").collect().map(_.getLong(0)).toSet
    val originalsWithCopy = r.where(!col("is_duplicate") && col("dup_group_size") > 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dups == (0L until 20L).map(_ + 100000).toSet, s"got $dups")
    assert(originalsWithCopy == (0L until 20L).toSet)
    assert(r.count() == docsWithDups.count())
  }

  test("minhash LSH finds exact and near dups, verified against brute-force jaccard") {
    val threshold = 0.7
    val got = Dedup.minhashLsh(docsWithDups, "doc_id", "text",
      shingleSize = 5, numHashes = 64, bands = 16, threshold = threshold)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs (small corpus)
    val all = docsWithDups.collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      if TextKernels.ngramJaccard(ta, tb, 5) >= threshold
    } yield (ia, ib)).toSet
    // precision must be exact (candidates are exact-verified); recall high but
    // probabilistic — require the planted pairs all found and overall recall ≥ 0.9
    assert(got.subsetOf(expected), s"false positives: ${(got -- expected).take(5)}")
    val planted = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(planted.subsetOf(got), s"missed planted exact dups: ${(planted -- got).take(5)}")
    assert(got.size >= (expected.size * 0.9).toInt, s"recall ${got.size}/${expected.size}")
  }

  test("simhash finds near-identical token streams; hamming verified brute-force") {
    val got = Dedup.simhashPairs(docsWithDups, "doc_id", "text", maxHamming = 3)
      .select("idA", "idB", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = docsWithDups.collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      if java.lang.Long.bitCount(
        graft.functions.HashKernels.simhash64(ta) ^ graft.functions.HashKernels.simhash64(tb)) <= 3
    } yield (ia, ib)).toSet
    assert(got == expected, s"diff: +${(got -- expected).take(3)} -${(expected -- got).take(3)}")
    val planted = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(planted.subsetOf(got))
  }

  test("brute-force cosine top-k matches a driver-side oracle") {
    val queries = embeddings.where(col("vec_id") < 5)
    val got = Ann.bruteForceTopK(embeddings, queries, "vec_id", "embedding", "vec_id", k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong) -> r.getLong(1)).toMap

    val vecs = embeddings.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    (0L until 5L).foreach { q =>
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      val actual = (1 to 3).map(rk => got((q, rk.toLong)))
      assert(actual == expected, s"query $q: $actual vs $expected")
    }
  }

  test("IVF top-k: full probe equals brute force; partial probe trades recall") {
    val queries = embeddings.where(col("vec_id") < 20)
    val exact = Ann.bruteForceTopK(embeddings, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell must reproduce brute force exactly
    val full = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding", "vec_id",
      k = 5, nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"full-probe IVF != brute force: +${(full -- exact).take(3)} -${(exact -- full).take(3)}")
    // partial probe: sane recall even on near-random synthetic vectors (flat cosine
    // landscape — real embeddings cluster and recall rises accordingly)
    val approx = Ann.ivfTopK(embeddings, queries, "vec_id", "embedding", "vec_id",
      k = 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall too low: $recall")
    assert(approx.forall { case (q, _) => q < 20 })
    // the assignment kernel must equal the crossJoin + window formula it replaced,
    // below and above the old 128-centroid cut between the two paths
    def asMap(df: DataFrame) = df.select(col("vec_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(16, 200).foreach { n =>
      val cents = Ann.centroids(embeddings, "vec_id", "embedding", n)
      val viaWindow = embeddings.crossJoin(broadcast(cents))
        .withColumn("__sim", Ann.cosine(col("embedding"), col("__centroid")))
        .withColumn("__rk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("__sim").desc, col("centroid_id").asc)))
        .where(col("__rk") === 1)
      assert(asMap(Ann.assign(embeddings, cents, "embedding")) == asMap(viaWindow),
        s"$n centroids")
      // int ids, which the window formula took at any count, assign too
      val intIds = embeddings.withColumn("vec_id", col("vec_id").cast("int"))
      assert(Ann.assign(intIds, Ann.centroids(intIds, "vec_id", "embedding", n), "embedding")
        .where(col("centroid_id").isNull).count() == 0)
    }
  }

  test("centroid choice skips null embeddings and null elements") {
    // the three smallest-hash rows (the sample's first picks) lose their vector: one
    // becomes the zero vector (NaN cosine with every row), one is nulled wholly, one
    // by a single null element — none may become a centroid
    val first = embeddings.select(col("vec_id")).orderBy(xxhash64(col("vec_id"))).limit(3)
      .collect().map(_.getLong(0))
    val holed = embeddings.withColumn("embedding",
      when(col("vec_id") === first(0), transform(col("embedding"), x => x - x))
        .when(col("vec_id") === first(1), lit(null))
        .when(col("vec_id") === first(2),
          transform(col("embedding"), (x, i) => when(i === 0, lit(null)).otherwise(x)))
        .otherwise(col("embedding")))
    val cents = Ann.centroids(holed, "vec_id", "embedding", 8)
    val ids = cents.select("centroid_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 8 && first.forall(f => !ids.contains(f)), s"got $ids")
    // every row, the holed ones included, is still assigned a cell, no cell captures
    // every row, and a full probe still equals brute force
    val assigned = Ann.assign(holed, cents, "embedding")
    assert(assigned.count() == holed.count())
    assert(assigned.select("centroid_id").distinct().count() > 1)
    val queries = holed.where(col("vec_id") < 20 || col("vec_id").isin(first: _*))
    def pairs(df: DataFrame) = df.select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pairs(Ann.ivfTopK(holed, queries, "vec_id", "embedding", "vec_id",
        k = 5, nCentroids = 8, nProbe = 8)) ==
      pairs(Ann.bruteForceTopK(holed, queries, "vec_id", "embedding", "vec_id", k = 5)))
  }

  test("embedding cosine near-dup pairs are exact-verified (no false positives)") {
    // plant two exact-duplicate vectors
    val dup = embeddings.where(col("vec_id") < 2)
      .select((col("vec_id") + 50000).as("vec_id"), col("embedding"), col("label"))
    val withDups = embeddings.unionByName(dup)
    val got = Dedup.embeddingCosinePairs(withDups, "vec_id", "embedding",
      sketchBits = 12, threshold = 0.999)
    val pairs = got.select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 50000L), (1L, 50001L)).subsetOf(pairs), s"got $pairs")
    assert(got.where(col("cosine") < 0.999).count() == 0)
  }

  test("dup clusters: min-label propagation over chains, cliques, and crossing edges") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4), triangle 20-21-22, pair 10-11, and a bridge
    // 5-20 merging the chain with the triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (20L, 22L), (10L, 11L), (5L, 20L)).toDF("idA", "idB")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 1L, 21L -> 1L, 22L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(got == expected, got)
  }

  test("dup clusters: distributed pointer-jumping agrees with driver-local union-find") {
    import spark.implicits._
    // long chain (diameter 39 — forces real pointer jumping), two cliques, a star,
    // and bridges; run both paths on identical input
    val chain = (100L until 139L).map(i => (i, i + 1))
    val clique = for (a <- 200L to 204L; b <- (a + 1) to 204L) yield (a, b)
    val star = (301L to 310L).map(i => (300L, i))
    val bridges = Seq((139L, 200L), (204L, 300L), (400L, 401L))
    val pairs = (chain ++ clique ++ star ++ bridges).toDF("idA", "idB")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.dupClusters(pairs))
    val distributed = Dedup.dupClusters(pairs, collectThreshold = 0L)
    val distMap = asMap(distributed)
    distributed.unpersist()
    assert(local == distMap, s"paths disagree: $local vs $distMap")
    // the merged chain+clique+star component labels to the chain's min id
    assert(local(310L) == 100L && local(204L) == 100L && local(400L) == 400L)
  }

  test("dup clusters: null-id pairs are ignored identically on both paths") {
    import spark.implicits._
    // (null, 5) must neither unbox to id 0 (local path) nor leak a null-labeled row
    // (distributed path); id 0 is present as a REAL node to catch the 0L corruption
    val pairs = Seq(
      (Some(0L), Some(1L)), (None, Some(5L)), (Some(5L), None), (None: Option[Long], None: Option[Long]),
      (Some(7L), Some(8L))).toDF("idA", "idB")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = asMap(Dedup.dupClusters(pairs))
    val distributed = Dedup.dupClusters(pairs, collectThreshold = 0L)
    val distMap = asMap(distributed)
    distributed.unpersist()
    val expected = Map(0L -> 0L, 1L -> 0L, 7L -> 7L, 8L -> 7L)
    assert(local == expected, local)
    assert(distMap == expected, distMap)
  }

  test("banded SRP sketches: full recall on exact copies, bounded buckets on a clustered corpus") {
    import spark.implicits._
    // a TIGHT cluster (pairwise cosine ~0.9 — near-dup-ish but below the 0.999
    // threshold) — the shape that collapsed the r2 single-16-bit-key sketch
    val dim = 16
    val u = Array.fill(dim)(1.0f)
    val vecs = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i) // deterministic per id
      i -> u.map(x => x + 0.32f * rnd.nextGaussian().toFloat)
    }
    val base = vecs.toDF("vec_id", "embedding")
    val withCopies = base.unionByName(
      base.where(col("vec_id") < 5).select((col("vec_id") + 9000).as("vec_id"), col("embedding")))
    val got = Dedup.embeddingCosinePairs(withCopies, "vec_id", "embedding",
      sketchBits = 16, threshold = 0.999, bands = 4)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).map(i => (i, i + 9000)).toSet.subsetOf(got), s"missed copies: $got")
    // bucket-bulge bound: the largest 16-bit band bucket must hold well under half
    // the cluster, and be no larger than the largest 4-bit bucket (wider keys can
    // only split buckets further)
    def maxBucket(bits: Int) = base
      .select(posexplode(Dedup.srpSketchBands(col("embedding"), bits, 4)).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").count().agg(max("count")).head.getLong(0)
    val wide = maxBucket(16)
    val narrow = maxBucket(4)
    assert(wide <= narrow, s"16-bit buckets ($wide) should not exceed 4-bit buckets ($narrow)")
    assert(wide < 100, s"largest 16-bit bucket holds $wide of 200 clustered vectors")
  }

  test("sampling decision is total: NULL keys are kept at rate > 0, dropped at rate 0") {
    import spark.implicits._
    val d = Seq(Some(1L), Some(2L), None, Some(4L), None).toDF("id")
    assert(Sampling.byHash(d, col("id"), 1.0).count() == 5)
    assert(Sampling.byHash(d, col("id"), 0.5).where(col("id").isNull).count() == 2)
    assert(Sampling.byHash(d, col("id"), 0.0).count() == 0)
    val strat = Sampling.stratified(
      d.withColumn("g", when(col("id").isNull, "x").otherwise("y")),
      col("id"), col("g"), Map("x" -> 0.0), defaultRate = 1.0)
    assert(strat.where(col("id").isNull).count() == 0) // stratum rate 0 drops nulls too
    assert(strat.count() == 3)
  }

  test("cleaning ops: NFC composition, PII masking, short-line stripping") {
    import spark.implicits._
    val df = Seq(
      ("cafe\u0301 meets caf\u00e9", // decomposed vs composed
       "mail a.b+c@ex-1.co.uk or call +1 (555) 123-4567 from 10.0.0.255 ok",
       "a good long line with many words\nshort one\n\nanother sufficiently long line here"))
      .toDF("nfc_in", "pii_in", "lines_in")
    val r = df.select(
      TextAnalysis.nfcNormalize(col("nfc_in")).as("nfc"),
      TextAnalysis.maskPii(col("pii_in")).as("masked"),
      TextAnalysis.stripShortLines(col("lines_in"), minWords = 4).as("stripped")).head
    assert(r.getString(0) == "caf\u00e9 meets caf\u00e9")
    assert(r.getString(1) == "mail <EMAIL> or call <PHONE> from <IP> ok", r.getString(1))
    assert(r.getString(2) ==
      "a good long line with many words\nanother sufficiently long line here")
  }

  test("hash sampling is deterministic, repartition-stable, and rate-accurate") {
    import spark.implicits._
    val d = spark.range(0, 20000).toDF("id")
    val s1 = Sampling.byHash(d, col("id"), 0.25).select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.byHash(d.repartition(17), col("id"), 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    assert(math.abs(s1.size / 20000.0 - 0.25) < 0.02, s"rate off: ${s1.size}")
    // nested rates: the 10% sample is a subset of the 25% sample (same hash order)
    val s3 = Sampling.byHash(d, col("id"), 0.10).select("id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
    val strat = Sampling.stratified(
      d.withColumn("g", when(col("id") % 2 === 0, "a").otherwise("b")),
      col("id"), col("g"), Map("a" -> 0.5), defaultRate = 0.0)
    assert(strat.where(col("g") === "b").count() == 0)
    assert(math.abs(strat.count() / 10000.0 - 0.5) < 0.05)
  }

  test("text analysis: langid on planted sentences, token counts, quality, fingerprint") {
    // the synthetic documents' lang labels are random w.r.t. their (English-jargon)
    // content, so langid is validated on planted real-language sentences instead
    import spark.implicits._
    val planted = Seq(
      ("en", "the cat sat on the mat and it was happy that the sun is out for now"),
      ("de", "der hund ist nicht mit der katze und das ist ein problem für alle"),
      ("fr", "le chat est dans la maison et les enfants sont pour une promenade"),
      ("es", "el perro y la casa que los niños quieren para una fiesta con amigos"),
      ("it", "il gatto non è una persona che sono con della casa per il mare")).toDF("lang", "text")
    val ided = planted.withColumn("lang_id", TextAnalysis.langId(col("text")))
    val wrong = ided.where(col("lang_id") =!= col("lang")).collect()
    assert(wrong.isEmpty, s"langid misses: ${wrong.map(r => (r.getString(0), r.getString(2))).toSeq}")

    val analyzed = TextAnalysis.analyze(docs.where(col("doc_id") < 500), "text").cache()
    // documents (English-jargon words) should mostly classify en or und
    val enOrUnd = analyzed.where(col("lang_id").isin("en", "und")).count().toDouble
    assert(enOrUnd / analyzed.count() >= 0.9, s"unexpected langid spread: ${enOrUnd / analyzed.count()}")
    // token counts: BPE-ish ≥ whitespace count; quality in [0,1]
    assert(analyzed.where(col("token_count") < col("ws_token_count")).count() == 0)
    assert(analyzed.where(col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
    // fingerprint is whitespace-normalization invariant
    val a = TextAnalysis.fingerprint(lit("Hello   world\n"))
    val b = TextAnalysis.fingerprint(lit("hello world"))
    val r = spark.range(1).select(a.as("a"), b.as("b")).head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("repetition signals: planted line/word/symbol geometry yields exact fractions") {
    import spark.implicits._
    val rows = Seq(
      // 4 lines, one duplicated pair → dup_line 1/4; bullet starts 2/4; ellipsis 1/4
      (1L, "• nav home\n• nav home\nreal content line…\nanother line"),
      (2L, "one two three four"),      // single line, 4 distinct words
      (3L, "spam spam spam spam"),     // dup_word 3/4
      (4L, "# # … tag"),               // 3 symbols / 1 word token ("tag")
      (5L, ""), (6L, "   \n  \n "),    // empty / whitespace-only → all zeros
      (7L, null.asInstanceOf[String])) // null text → all five 0.0 (uniform family)
      .toDF("doc_id", "text")
    val sigRows = TextAnalysis.repetitionSignals(rows, "text")
      .select("doc_id", "dup_line_frac", "dup_word_frac", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac")
      .collect()
    // every signal column is non-null on every row — including the null-text doc
    sigRows.foreach(r => (1 to 5).foreach(i =>
      assert(!r.isNullAt(i), s"signal col $i null at doc ${r.getLong(0)}")))
    val got = sigRows.map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got(7L) == ((0.0, 0.0, 0.0, 0.0, 0.0)))
    // 9 word tokens (nav home ×2, real content line, another line), 3 repeats;
    // one '…' symbol; 4 lines with one duplicated pair, 2 bullet starts, 1 ellipsis end
    assert(got(1L) == ((0.25, 3.0 / 9.0, 1.0 / 9.0, 0.5, 0.25)), s"got ${got(1L)}")
    assert(got(2L) == ((0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((0.0, 0.75, 0.0, 0.0, 0.0)))
    assert(got(4L)._3 == 3.0, s"symbol ratio ${got(4L)}")
    assert(got(5L) == ((0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(got(6L) == ((0.0, 0.0, 0.0, 0.0, 0.0)))
    // the keep-filter composes the same signals; spam and symbol docs fail, doc 2 passes
    val kept = rows.where(TextAnalysis.passesRepetitionFilter(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L) && !kept.contains(3L) && !kept.contains(4L), s"kept $kept")
    // scan-speed contract: one projection, no exchange in the plan
    val plan = TextAnalysis.repetitionSignals(rows, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("line dedup keeps boilerplate only at its first (id, pos) occurrence") {
    import spark.implicits._
    val banner = "COOKIE BANNER ACCEPT ALL"
    val docs = Seq(
      (1L, s"UNIQUE CONTENT LINE ONE\n$banner\nmore unique text here"),
      (2L, s"$banner\nsecond doc body line"),
      (3L, banner),                       // only line is a later duplicate → ""
      (4L, "ok\nok\nok"),                 // short lines exempt → unchanged
      (5L, null.asInstanceOf[String]),    // null text survives as null
      (6L, s"  $banner  "),               // trims equal to the banner → dropped
      (7L, s"$banner\r\nCRLF BODY LINE HERE"))   // CRLF page: banner still dedups
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", minLineChars = 10)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == s"UNIQUE CONTENT LINE ONE\n$banner\nmore unique text here")
    assert(got(2L) == "second doc body line")
    assert(got(3L) == "")
    assert(got(4L) == "ok\nok\nok")
    assert(got(5L) == null)
    assert(got(6L) == "")
    assert(got(7L) == "CRLF BODY LINE HERE")
    assert(got.size == 7) // every input row preserved
    // a NULL id cannot anchor (id, pos) keeper identity: the row passes through
    // UNTOUCHED (not emptied, not merged with other null-id rows)
    val withNullId = docs.unionByName(Seq((null.asInstanceOf[java.lang.Long],
      "SOME PERFECTLY UNIQUE TEXT\nSOME PERFECTLY UNIQUE TEXT"))
      .toDF("doc_id", "text"))
    val nullRow = Dedup.dedupLines(withNullId, "doc_id", "text", minLineChars = 10)
      .where(col("doc_id").isNull).collect()
    assert(nullRow.length == 1 &&
      nullRow.head.getString(1) == "SOME PERFECTLY UNIQUE TEXT\nSOME PERFECTLY UNIQUE TEXT")
    // per-scope dedup: different scopes never share a duplicate group
    val scoped = Dedup.dedupLines(docs.withColumn("site", col("doc_id") % 2),
      "doc_id", "text", minLineChars = 10, scope = col("site"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // doc 2 (site 0) is now the first banner occurrence within its own scope
    assert(scoped(2L) == s"$banner\nsecond doc body line")
    assert(scoped(6L) == "") // site 0, later than doc 2
    assert(scoped(1L).contains(banner)) // site 1's first occurrence
    assert(scoped(3L) == "") // site 1, later than doc 1
    // scale-shape: the decision aggregation is a partial-aggregated groupBy + join,
    // NOT a window over the line key (a window partition cannot be skew-split and
    // would funnel a corpus-hot boilerplate line through one task)
    val plan = Dedup.dedupLines(docs, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window "), plan.take(1500))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan.take(1500))
  }

  test("script fractions and dominant script on planted mixed-script text") {
    import spark.implicits._
    val rows = Seq(
      (1L, "hello world"),                   // pure latin
      (2L, "привет мир"),                    // pure cyrillic
      (3L, "hello привет 你好 مرحبا"),        // mixed, latin ties broken first
      (4L, "你好世界 你好"),                   // majority han
      (5L, "12345 !!!"),                     // no letters → und, all fracs 0
      (6L, null.asInstanceOf[String]),       // null text → und, all fracs 0
      (7L, "γειά σου κόσμε"))                // letters entirely OUTSIDE the profiled
                                             // scripts must not masquerade as latin
      .toDF("doc_id", "text")
    val f = TextAnalysis.scriptFractions(col("text"))
    val got = rows.select(
        (col("doc_id") +: f.map { case (s, c) => c.as(s) } :+
          TextAnalysis.dominantScript(col("text")).as("dom")): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)), r.getString(5))).toMap
    assert(got(1L) == (((1.0, 0.0, 0.0, 0.0), "latin")))
    assert(got(2L) == (((0.0, 1.0, 0.0, 0.0), "cyrillic")))
    assert(got(4L)._2 == "han" && got(4L)._1._3 == 1.0)
    assert(got(5L) == (((0.0, 0.0, 0.0, 0.0), "und")))
    assert(got(6L) == (((0.0, 0.0, 0.0, 0.0), "und")))
    assert(got(7L) == (((0.0, 0.0, 0.0, 0.0), "und"))) // Greek: all profiled fracs 0
    // mixed doc: 10 latin letters of 'hello'+'world'? no — hello=5, привет=6, 你好=2, مرحبا=5
    val (fr, dom) = got(3L)
    assert(fr._1 > 0 && fr._2 > 0 && fr._3 > 0 && fr._4 > 0 && math.abs(fr._1 + fr._2 + fr._3 + fr._4 - 1.0) < 1e-9)
    assert(dom == "cyrillic") // привет (6) is the largest letter group
  }

  test("line dedup plan never re-groups the exploded corpus") {
    import spark.implicits._
    val d = Seq((1L, "aaaa bbbb cccc\nshared boilerplate line"),
      (2L, "shared boilerplate line\ndddd eeee ffff")).toDF("doc_id", "text")
    val plan = Dedup.dedupLines(d, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    // the decision side aggregates only dropped positions; a collect_list over the
    // exploded (pos, line) structs (sorted for reassembly) would mean the round-4
    // full-corpus rebuild is back
    assert(!plan.contains("collect_list(struct"), plan)
    assert(!plan.contains("array_sort"), plan)
    // the keying pass explodes (twice — the same subtree feeds both sides of the
    // duplicate-decision join, as in round 4); the REBUILD side must not: the
    // final left join's stream side is the original un-exploded frame
    val generates = "Generate posexplode".r.findAllIn(plan).size
    assert(generates == 2, s"expected 2 Generates (keying only), got $generates:\n$plan")
    val rebuildSide = plan.linesIterator.takeWhile(!_.contains("Join Inner")).mkString("\n")
    assert(!rebuildSide.contains("Generate"), rebuildSide)
  }

  test("line dedup matches a sequential reference on random corpora (property)") {
    import spark.implicits._
    // deterministic pseudo-random corpora from a tiny line vocabulary, so
    // cross-document repeats are dense and every geometry (first occurrence mid-doc,
    // whole-doc wipeouts, exempt short lines) appears by construction
    val vocab = Vector("AAAA BBBB CCCC", "DDDD EEEE FFFF", "GGGG HHHH IIII",
      "JJ", "", "KKKK LLLL MMMM NNNN", "OOOO PPPP")
    val rnd = new scala.util.Random(20260817L)
    (1 to 5).foreach { trial =>
      val docs = (0L until 40L).map { id =>
        val n = 1 + rnd.nextInt(6)
        id -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString("\n")
      }
      val minChars = 5
      // sequential reference: first (id, pos) occurrence of each eligible line wins
      val seen = scala.collection.mutable.Set[String]()
      val want = docs.map { case (id, text) =>
        val kept = text.split("\n", -1).filter { line =>
          val t = line.trim
          if (t.length < minChars) true
          else if (seen.contains(t)) false
          else { seen.add(t); true }
        }
        id -> kept.mkString("\n")
      }.toMap
      val got = Dedup.dedupLines(docs.toDF("doc_id", "text"), "doc_id", "text",
          minLineChars = minChars)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want,
        s"trial $trial: ${got.toSeq.sortBy(_._1).zip(want.toSeq.sortBy(_._1))
          .filter(p => p._1 != p._2).take(3)}")
    }
  }

  test("keepBest keeps the max-quality copy per group, min id on ties, null group passthrough") {
    import spark.implicits._
    val rows = Seq(
      // group A: quality picks id 12 (not the min id 10)
      (10L, "A", 0.3), (11L, "A", 0.5), (12L, "A", 0.9),
      // group B: tied quality → min id 20
      (20L, "B", 0.7), (21L, "B", 0.7),
      // group C: null scores lose to the scored copy; all-null group → min id
      (30L, "C", Double.NaN), (31L, "C", 0.1),
      // group D: singleton
      (40L, "D", 0.2),
      // null group: both rows pass through untouched
      (50L, null, 0.9), (51L, null, 0.1))
      .toDF("doc_id", "g", "quality")
      .withColumn("quality", when(isnan(col("quality")), lit(null)).otherwise(col("quality")))
    val kept = Dedup.keepBest(rows, "g", "doc_id", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 20L, 31L, 40L, 50L, 51L), s"kept $kept")
    // all-null-score group: deterministic min-id keeper
    val allNull = Seq((1L, "X"), (2L, "X")).toDF("doc_id", "g")
      .withColumn("quality", lit(null).cast("double"))
    assert(Dedup.keepBest(allNull, "g", "doc_id", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // a NULL id cannot anchor keeper identity: the row passes through instead of
    // being silently dropped by the id = keeper_id filter
    val withNullId = Seq((java.lang.Long.valueOf(60L), "Y", 0.5),
      (null.asInstanceOf[java.lang.Long], "Y", 0.9)).toDF("doc_id", "g", "quality")
    val keptY = Dedup.keepBest(withNullId, "g", "doc_id", "quality")
      .select("doc_id").collect()
    assert(keptY.length == 2 && keptY.exists(_.isNullAt(0)), keptY.mkString(", "))
    // skew-safe plan: partial aggregation before the exchange, no window
    val plan = Dedup.keepBest(rows, "g", "doc_id", "quality")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan.take(1500))
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"), plan.take(1500))
  }

  test("decontamination: substring and n-gram paths agree on token-aligned leaks") {
    import spark.implicits._
    val benchQ = "what is the capital city of france paris" // exactly 8 tokens = one 8-gram
    val clean = "a perfectly ordinary training document about cooking pasta at home tonight"
    val docs = Seq(
      (1L, s"intro text $benchQ outro text padding words here"), // verbatim leak
      (2L, clean),
      (3L, "what is the capital of spain madrid not france"),    // shares tokens, no 8-gram
      (4L, s"${benchQ.toUpperCase} WITH DIFFERENT, PUNCTUATION!"), // leak modulo case/punct
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val bench = Seq(benchQ).toDF("snippet")
    val bySubstr = Decontaminate.flagContains(docs, "text", bench, "snippet")
      .where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bySubstr == Set(1L), s"substring path flagged $bySubstr")
    val byNgram = Decontaminate.flagNgramOverlap(docs, "doc_id", "text", bench, "snippet", n = 8)
      .where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    // tokenization collapses case and punctuation: the n-gram path also catches doc 4
    assert(byNgram == Set(1L, 4L), s"ngram path flagged $byNgram")
    // empty benchmark flags nothing (and does not error on an empty automaton)
    val none = Decontaminate.flagContains(docs, "text", bench.where(lit(false)), "snippet")
    assert(none.where(col("contaminated")).count() == 0)
    // n shorter than every document still works; n longer than every document flags nothing
    assert(Decontaminate.flagNgramOverlap(docs, "doc_id", "text", bench, "snippet", n = 100)
      .where(col("contaminated")).count() == 0)
    // a NULL id cannot carry the n-gram flag back: flagged false whatever its text
    val nullId = Seq((Option.empty[Long], s"intro $benchQ outro")).toDF("doc_id", "text")
    assert(!Decontaminate.flagNgramOverlap(nullId, "doc_id", "text", bench, "snippet")
      .head().getAs[Boolean]("contaminated"))
    // the substring flag is one projection: no exchange on the document side
    val plan = Decontaminate.flagContains(docs, "text", bench, "snippet")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), plan.take(1500))
  }

  test("Aho-Corasick multiContains equals naive contains, exhaustively over {a,b}*") {
    import graft.functions.AhoCorasick
    // every text of length <= 6 over {a,b} against pattern sets chosen for the
    // automaton's hard spots: overlap, one pattern a suffix of another's prefix
    // path (terminal propagation via fail links), single chars, and full-length
    val texts = (0 to 6).flatMap(n => (0 until (1 << n)).map(m =>
      (0 until n).map(i => if (((m >> i) & 1) == 0) 'a' else 'b').mkString))
    val patternSets = Seq(
      Seq("ab"), Seq("aa", "bb"), Seq("aba", "ba"), Seq("abab", "bab"),
      Seq("a"), Seq("abba", "bba", "b"), Seq("aaaaaa"), Seq("ab", "ba", "aa", "bb"))
    patternSets.foreach { ps =>
      val ac = new AhoCorasick(ps.toArray)
      texts.foreach { t =>
        val want = ps.exists(t.contains(_))
        assert(ac.containsAny(t) == want, s"patterns=$ps text='$t' want=$want")
      }
    }
    // empty pattern matches everything (String.contains semantics); empty set nothing
    assert(new AhoCorasick(Array("", "zz")).containsAny("q"))
    assert(!new AhoCorasick(Array.empty[String]).containsAny("anything"))
    // unicode beyond the BMP path (chars, not code points — substring match is
    // char-sequence equality, so surrogate pairs still match exactly)
    assert(new AhoCorasick(Array("号🎉b")).containsAny("a号🎉ba"))
  }

  /** doc_id → contaminated of a flagged frame. */
  private def flagsOf(df: DataFrame): Map[Long, Boolean] =
    df.select("doc_id", "contaminated").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

  test("substring decontamination kernel equals the exists(contains) formula it replaced") {
    // reuse the corpus: snippets cut from real documents, matched against all docs
    val d = docs.select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 25 === 3)
      .select(substring(col("text"), 11, 30).as("snippet"))
    // oracle: the broadcast snippet array, every snippet re-scanning every document
    def formula(b: DataFrame): Map[Long, Boolean] = {
      val snips = b.where(col("snippet").isNotNull && length(col("snippet")) > 0)
        .agg(collect_set(col("snippet")).as("snips"))
      flagsOf(d.crossJoin(broadcast(snips)).withColumn("contaminated",
        coalesce(exists(col("snips"), s => contains(col("text"), s)), lit(false))))
    }
    val kernel = flagsOf(Decontaminate.flagContains(d, "text", bench, "snippet"))
    assert(kernel == formula(bench))
    assert(kernel.values.exists(identity), "parity is vacuous if nothing matched")
    // empty benchmark: flags nothing, no error, on both sides
    val empty = bench.where(lit(false))
    val none = flagsOf(Decontaminate.flagContains(d, "text", empty, "snippet"))
    assert(none == formula(empty) && !none.values.exists(identity))
  }

  test("trigram LM quality matches a sequential reference implementation") {
    import spark.implicits._
    import graft.data.LmQuality
    val corpus = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps again and again"),
      (3L, "Pack   my box\nwith five dozen liquor jugs"), // ws runs collapse
      (4L, "zzqxj vvkpw qqq"), // gibberish: must score LOW
      (5L, "ab"),              // < 3 code points -> null
      (6L, null.asInstanceOf[String]))
    val df = corpus.toDF("doc_id", "text")
    val vocab = 16 // tiny: forces a real unseen mass
    val alpha = 0.4
    val model = LmQuality.trainTrigramLm(df, "text", vocab = vocab, alpha = alpha)

    // sequential reference: same normalization, same counting, same cut, same formula
    def norm(s: String) = s.toLowerCase.replaceAll("[ \\t\\n\\x0B\\f\\r]+", " ")
    def grams(s: String) = (0 to s.length - 3).map(i => s.substring(i, i + 3))
    val all = corpus.flatMap { case (_, t) => Option(t) }.map(norm).filter(_.length >= 3)
      .flatMap(grams)
    val counts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(vocab).toMap
    val denom = all.size + alpha * (top.size + 1)
    def score(t: String): Option[Double] = {
      val n = norm(t)
      if (n.length < 3) None
      else Some(grams(n).map(g => math.log((top.getOrElse(g, 0L) + alpha) / denom)).sum / (n.length - 2))
    }
    val got = LmQuality.scoreTrigramLm(df, "text", model).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    corpus.foreach { case (id, t) =>
      val expect = Option(t).flatMap(score)
      (got(id), expect) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-12, s"doc $id: $a vs $b")
        case (a, b) => assert(a == b, s"doc $id: $a vs $b")
      }
    }
    // the gibberish doc must rank below every natural-English doc
    assert(got(4L).get < got(1L).get && got(4L).get < got(2L).get && got(4L).get < got(3L).get)
    assert(got(5L).isEmpty && got(6L).isEmpty)
  }

  test("n-gram decontamination semi-join equals the arrays_overlap formula it replaced") {
    val d = docs.select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 25 === 3)
    // oracle: the broadcast gram-hash array, scanned per document
    def formula(b: DataFrame): Map[Long, Boolean] = {
      val grams = b.select(explode(Decontaminate.tokenNgramHashes(col("text"), 8)).as("g"))
        .agg(collect_set(col("g")).as("grams"))
      flagsOf(d.crossJoin(broadcast(grams)).withColumn("contaminated", coalesce(
        arrays_overlap(Decontaminate.tokenNgramHashes(col("text"), 8), col("grams")), lit(false))))
    }
    val joined = flagsOf(Decontaminate.flagNgramOverlap(d, "doc_id", "text", bench, "text", n = 8))
    assert(joined == formula(bench))
    assert(joined.values.exists(identity), "parity is vacuous if nothing matched")
    assert(!joined.values.forall(identity), "parity is vacuous if everything matched")
    // empty benchmark: flags nothing, no error, on both sides
    val empty = bench.where(lit(false))
    val none = flagsOf(Decontaminate.flagNgramOverlap(d, "doc_id", "text", empty, "text", n = 8))
    assert(none == formula(empty) && !none.values.exists(identity))
  }

  test("perplexity buckets split scores into head/middle/tail at exact terciles") {
    import spark.implicits._
    // scores 1..9: tercile cuts interpolate to 11/3 and 19/3 → {1,2,3} tail,
    // {4,5,6} middle, {7,8,9} head; a null score gets a null bucket
    val scored = ((1 to 9).map(i => (i.toLong, Some(i.toDouble))) :+
      (10L, Option.empty[Double])).toDF("doc_id", "s")
    val got = LmQuality.perplexityBuckets(scored, "s")
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    (1 to 3).foreach(i => assert(got(i.toLong).contains("tail"), s"$i: ${got(i.toLong)}"))
    (4 to 6).foreach(i => assert(got(i.toLong).contains("middle"), s"$i: ${got(i.toLong)}"))
    (7 to 9).foreach(i => assert(got(i.toLong).contains("head"), s"$i: ${got(i.toLong)}"))
    assert(got(10L).isEmpty)
    // sampled-cutoff contract: cut points come from cutoffSource, not the scored frame
    val sample = Seq((100L, Some(100.0)), (101L, Some(200.0)), (102L, Some(300.0)))
      .toDF("doc_id", "s")
    val viaSample = LmQuality.perplexityBuckets(scored, "s", cutoffSource = Some(sample))
      .where(col("s").isNotNull).collect().map(_.getString(2)).toSet
    assert(viaSample == Set("tail")) // every real score sits below the sample's lo cut
    // all-null scores: no cuts exist, every bucket null, no crash
    val allNull = LmQuality.perplexityBuckets(
      Seq((1L, Option.empty[Double])).toDF("doc_id", "s"), "s")
    assert(allNull.collect().head.getString(2) == null)
  }

  test("semantic pairs find identical embeddings within cells at any centroid count") {
    import spark.implicits._
    // deterministic vectors; ids 100+i are exact copies of i (cosine 1), and a
    // mildly-rotated copy of id 3 sits just below the 0.999 threshold
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(d => (math.sin(seed * 31 + d * 7).toFloat))
    val rows = (0 until 20).map(i => (i.toLong, vec(i))) ++
      (0 until 5).map(i => (100L + i, vec(i))) :+
      (200L, vec(3).zipWithIndex.map { case (x, d) => if (d == 0) x + 0.8f else x })
    val df = rows.toDF("vec_id", "embedding")
    // sequential exact reference (the sin lattice yields a couple of NATURAL
    // ≥0.999 pairs beyond the planted ones — the reference catches them all)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) { case ((d, x, y), (p, q)) =>
        (d + p.toDouble * q, x + p.toDouble * p, y + q.toDouble * q) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cos(va, vb) >= 0.999
    } yield (ia, ib)).toSet
    assert((0 until 5).forall(i => exact.contains((i.toLong, 100L + i))))
    assert(!exact.exists(p => p._1 == 200L || p._2 == 200L))
    Seq(1, 4, 16).foreach { k =>
      val pairs = Dedup.semanticPairs(df, "vec_id", "embedding",
          nCentroids = k, threshold = 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // identical vectors always share a cell → planted pairs never lost
      (0 until 5).foreach(i =>
        assert(pairs.contains((i.toLong, 100L + i)), s"k=$k missing ($i, ${100 + i})"))
      assert(pairs.subsetOf(exact), s"k=$k: false positives ${pairs -- exact}")
    }
    // nCentroids=1 degenerates to the exact all-pairs verify: the full pair set
    val all = Dedup.semanticPairs(df, "vec_id", "embedding", nCentroids = 1,
      threshold = 0.999).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == exact, s"got $all want $exact")
  }

  test("incremental dedup drops corpus-known texts and keeps min-id within the batch") {
    import spark.implicits._
    val batch = Seq(
      (java.lang.Long.valueOf(1L), "alpha text body"),
      (java.lang.Long.valueOf(2L), "beta text body"),   // known to the corpus → dropped
      (java.lang.Long.valueOf(3L), "alpha text body"),  // batch-internal dup of 1 → dropped
      (java.lang.Long.valueOf(4L), "gamma text body"),
      (java.lang.Long.valueOf(5L), null),               // null text → passthrough
      (null.asInstanceOf[java.lang.Long], "delta text") // null id → passthrough
    ).toDF("doc_id", "text")
    val corpus = Seq("beta text body").toDF("t").select(md5(col("t")).as("text_md5"))
    val got = Dedup.dedupIncremental(batch, "doc_id", "text", corpus, "text_md5")
      .collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(got == Set((1L, "alpha text body"), (4L, "gamma text body"),
      (5L, null), (null, "delta text")), got.toString)
    // empty corpus: pure batch-internal exact dedup
    val noCorpus = Dedup.dedupIncremental(batch, "doc_id", "text",
      corpus.where(lit(false)), "text_md5")
    assert(noCorpus.count() == 5) // only the internal dup (id 3) drops
  }

  test("mixture resampling hits the target proportions and keeps the binding stratum whole") {
    import spark.implicits._
    // 3000 en / 600 de / 400 fr, ids disjoint per stratum so decisions are independent
    val rows = (0L until 3000L).map(i => (i, "en")) ++
      (10000L until 10600L).map(i => (i, "de")) ++
      (20000L until 20400L).map(i => (i, "fr"))
    val d = rows.toDF("id", "s")
    val targets = Seq(("en", 0.25), ("de", 0.5), ("fr", 0.25)).toDF("s", "w")
    val kept = Sampling.resampleToMixture(d, col("id"), col("s"), targets, "s", "w")
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // c = min(3000/0.25, 600/0.5, 400/0.25) = 600/0.5 = 1200 → de keeps ALL 600,
    // en targets 300, fr targets 300 (hash noise within a few percent)
    assert(kept("de") == 600L, s"binding stratum must keep every row, got $kept")
    assert(math.abs(kept("en") - 300L) < 60, s"en ~300 expected, got $kept")
    assert(math.abs(kept("fr") - 300L) < 60, s"fr ~300 expected, got $kept")
    // stratum absent from targets → dropped entirely
    val extra = d.unionByName(Seq((30000L, "zz")).toDF("id", "s"))
    assert(Sampling.resampleToMixture(extra, col("id"), col("s"), targets, "s", "w")
      .where(col("s") === "zz").count() == 0)
    // decisions are hash-deterministic: repartitioning changes nothing
    val a = Sampling.resampleToMixture(d, col("id"), col("s"), targets, "s", "w")
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.resampleToMixture(d.repartition(13), col("id"), col("s"), targets, "s", "w")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // duplicate target rows are rejected loudly
    val dupT = targets.unionByName(Seq(("en", 0.1)).toDF("s", "w"))
    intercept[IllegalArgumentException] {
      Sampling.resampleToMixture(d, col("id"), col("s"), dupT, "s", "w").count()
    }
  }

  test("packByBudget matches a sequential concat-and-chunk reference") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val toks = (0L until 500L).map(i =>
      (i, if (i % 97 == 13) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rng.nextInt(400).toLong)))
    val d = toks.toDF("id", "tok")
    val budget = 256L
    val got = Sampling.packByBudget(d.repartition(7), "id", "tok", budget)
      .select("id", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // sequential reference: running start offset over id order, nulls = 0 tokens
    var start = 0L
    val want = toks.sortBy(_._1).map { case (i, t) =>
      val me = (i, start / budget, start % budget)
      start += (if (t == null) 0L else t.longValue())
      me
    }
    assert(got.toSeq == want, s"first diff: ${got.toSeq.zip(want).find(p => p._1 != p._2)}")
    assert(got.forall(r => r._3 >= 0 && r._3 < budget))
  }

  test("tfidfTopK scores and ranks match a hand computation") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),   // apple tf=2, banana tf=1
      (2L, "banana cherry"),
      (3L, "cherry durian durian durian")
    ).toDF("id", "text")
    val got = TextAnalysis.tfidfTopK(d, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    def s(tf: Int, df: Int) = math.floor(tf * math.log(3.0 / df) * 1e6 + 0.5) / 1e6
    // doc1: apple 2*ln(3/1), banana 1*ln(3/2); doc2: banana/cherry both 1*ln(3/2) → tie, word asc
    val want = Seq(
      (1L, "apple", s(2, 1), 1), (1L, "banana", s(1, 2), 2),
      (2L, "banana", s(1, 2), 1), (2L, "cherry", s(1, 2), 2),
      (3L, "durian", s(3, 1), 1), (3L, "cherry", s(1, 2), 2))
    assert(got.toSeq == want, got.mkString(", "))
  }

  test("dupSpanFraction covers exactly the positions under corpus-repeated n-grams") {
    import spark.implicits._
    // n=3 over tiny docs: "a b c d e" shares the 3-gram "a b c"/"b c d"... with doc 2
    val d = Seq(
      (1L, "a b c d e u1 u2 u3"),        // grams at pos 0..5; pos 0,1,2 dup (shared with doc 2)
      (2L, "x y a b c d e z"),            // shares "a b c", "b c d", "c d e"
      (3L, "p q r s t"),                  // unique
      (4L, "m m m m m"),                  // self-repeated gram "m m m" (pos 0..2 dup)
      (5L, "one two"),                    // < n tokens → 0.0
      (6L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = Dedup.dupSpanFraction(d, "id", "text", n = 3)
      .select("id", "dup_span_frac")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc1: 8 tokens; dup grams start at 0,1,2 ("a b c","b c d","c d e") →
    // union covers positions 0..4 = 5 tokens → 5/8
    assert(math.abs(got(1L) - 5.0 / 8) < 1e-12, got.toString)
    // doc2: 8 tokens; dup grams start at 2,3,4 → cover 2..6 = 5 → 5/8
    assert(math.abs(got(2L) - 5.0 / 8) < 1e-12, got.toString)
    assert(got(3L) == 0.0)
    // doc4: "m m m" occurs at 0,1,2 (count 3 > 1) → covers 0..4 = all 5 → 1.0
    assert(got(4L) == 1.0, got.toString)
    assert(got(5L) == 0.0 && got(6L) == 0.0)
    assert(Dedup.dupSpanFraction(d, "id", "text", n = 3).count() == 6)
  }

  test("ngram overlap fraction is graded and agrees with the boolean flag") {
    import spark.implicits._
    val w = (0 until 40).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, w),                                    // the benchmark doc itself → 1.0
      (2L, w.split(" ").take(15).mkString(" ") + " zz " + (100 to 120).map("u" + _).mkString(" ")), // partial overlap
      (3L, (200 to 240).map("v" + _).mkString(" ")), // disjoint → 0.0
      (4L, "too short"),                          // < 8 tokens → no grams → 0.0
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val bench = Seq(w).toDF("text")
    val frac = Decontaminate.ngramOverlapFraction(d, "id", "text", bench, "text")
      .select("id", "overlap_frac")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(frac(1L) == 1.0)
    assert(frac(2L) > 0.0 && frac(2L) < 1.0, frac.toString)
    assert(frac(3L) == 0.0 && frac(4L) == 0.0 && frac(5L) == 0.0)
    val flags = Decontaminate.flagNgramOverlap(d, "id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("contaminated"))).toMap
    assert(frac.forall { case (id, f) => (f > 0.0) == flags(id) })
  }

  test("pageRank matches a sequential power iteration, incl. dangling + multi-edges") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 12 nodes, ~60 random edges with repeats; nodes 10 and 11 are dst-only (dangling)
    val edges = (0 until 60).map { _ =>
      (s"h${rng.nextInt(10)}", s"h${rng.nextInt(12)}")
    }
    val got = graft.web.HostGraph.pageRank(edges.toDF("s", "d").repartition(5),
        "s", "d", iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // sequential reference
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val w = edges.groupBy(identity).map { case (e, g) => e -> g.size.toDouble }
    val outDeg = w.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 8) {
      val dm = nodes.filterNot(outDeg.contains).map(rank).sum
      rank = nodes.map { v =>
        val in = w.collect { case ((s, d), ww) if d == v => rank(s) * ww / outDeg(s) }.sum
        v -> (0.15 / n + 0.85 * (in + dm / n))
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    nodes.foreach(v => assert(math.abs(got(v) - rank(v)) < 1e-9, s"$v: ${got(v)} vs ${rank(v)}"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"total rank ${got.values.sum}")
  }

  test("pageRank at iters=0 is uniform; empty edge list yields empty output") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c")).toDF("s", "d")
    val r0 = graft.web.HostGraph.pageRank(e, "s", "d", iters = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r0.keySet == Set("a", "b", "c") && r0.values.forall(v => math.abs(v - 1.0 / 3) < 1e-12))
    val empty = e.where(lit(false))
    assert(graft.web.HostGraph.pageRank(empty, "s", "d", iters = 3).count() == 0)
  }

  test("pageRank and release leave a caller's checkpointed edge frame usable") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("s", "d").localCheckpoint()
    val rddId = edges.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.get
    val before = edges.collect().toSet
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    for (iters <- Seq(0, 1, 3))
      graft.web.HostGraph.release(graft.web.HostGraph.pageRank(edges, "s", "d", iters))
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "the caller's checkpointed edge RDD was unpersisted")
    // and pageRank's own checkpoints and caches are all gone
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(edges.collect().toSet == before)
  }

  test("dsirLogWeights matches a sequential recompute and scores target-like docs higher") {
    import spark.implicits._
    val target = "alpha beta gamma delta alpha beta"
    val offtgt = "omega psi chi phi omega psi"
    val d = Seq(
      (1L, target, "en"), (2L, target + " alpha", "en"), (3L, offtgt, "fr"),
      (4L, offtgt + " chi", "fr"), (5L, "alpha beta omega", "fr"),
      (6L, "", "en"), (7L, null.asInstanceOf[String], "fr")
    ).toDF("id", "text", "lang")
    val b = 1024
    val got = Sampling.dsirLogWeights(d.repartition(3), "id", "text",
        col("lang") === "en", numBuckets = b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // sequential reference (same md5 bucketing via the engine itself, scalar math here)
    def words(t: String): Seq[String] =
      if (t == null) Nil
      else t.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    val bucketOf = Seq("alpha", "beta", "gamma", "delta", "omega", "psi", "chi", "phi")
      .toDF("w").select(col("w"),
        floor(Sampling.hashFraction(col("w")) * b).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val rows = Seq((1L, target, true), (2L, target + " alpha", true), (3L, offtgt, false),
      (4L, offtgt + " chi", false), (5L, "alpha beta omega", false), (6L, "", true),
      (7L, null.asInstanceOf[String], false))
    val allToks = rows.flatMap { case (_, t, tgt) => words(t).map(w => (bucketOf(w), tgt)) }
    val tc = allToks.filter(_._2).groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val rc = allToks.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val tt = allToks.count(_._2).toDouble; val rt = allToks.size.toDouble
    def lr(bk: Int): Double = {
      val v = math.log(((tc.getOrElse(bk, 0.0) + 1.0) / (tt + b)) / ((rc(bk) + 1.0) / (rt + b)))
      math.floor(v * 1e6 + 0.5) / 1e6
    }
    val want = rows.map { case (id, t, _) => id -> words(t).map(w => lr(bucketOf(w))).sum }.toMap
    rows.foreach { case (id, _, _) =>
      assert(math.abs(got(id) - want(id)) < 1e-9, s"$id: ${got(id)} vs ${want(id)}")
    }
    assert(got(6L) == 0.0 && got(7L) == 0.0)
    // direction: target-vocabulary docs outscore off-target ones (absolute sign is
    // smoothing-dependent at toy scale — only the ordering is meaningful)
    assert(got(1L) > got(5L) && got(5L) > got(3L),
      s"direction: ${got(1L)} / ${got(5L)} / ${got(3L)}")
  }

  test("gumbelTopK: deterministic hash-Gumbel selection, repartition-invariant") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, (i % 17).toDouble / 10.0)).toDF("id", "logw")
    val a = Sampling.gumbelTopK(d, "id", "logw", k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    val b = Sampling.gumbelTopK(d.repartition(13), "id", "logw", k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(a == b && a.size == 25)
    // keys really are logw + r6(gumbel(hashFraction-bin-center)) — recompute one
    val expected = d.select(col("id"), (floor((col("logw") +
        floor(-log(-log((conv(substring(md5(col("id").cast("string")), 1, 13), 16, 10)
          .cast("double") + 0.5) / 4503599627370496.0)) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6).as("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach { case (id, key) => assert(key == expected(id), s"$id") }
    // and the selected set IS the global top-25 of those keys
    val top = expected.toSeq.sortBy { case (id, k) => (-k, id) }.take(25).map(_._1).toSet
    assert(a.map(_._1).toSet == top)
  }

  // ---- r7 kernel swaps: each kernel against the Column formula it replaced, as a
  //      seeded ScalaCheck property (generated code and interpreted eval alike)

  /** Text pieces: ASCII, separators, combining marks (bare and composed), surrogate
    * pairs (emoji, math letters), CJK, Cyrillic, a no-break space. */
  private val fuzzPiece = Gen.oneOf("a", "b", "Z", "7", " ", "\t", "\n", "-", "_", ".",
    "\u00e9", "e\u0301", "\u0301", "\u00df", "\u0130", "\u732b", "\u0416", "\ud83c\udf89",
    "\ud835\udd38", "\u00a0", "ab")
  /** Null, empty, or 1–12 pieces among which a piece may repeat 20–300 times. */
  private val fuzzText: Gen[String] = {
    val run = for { p <- fuzzPiece; n <- Gen.choose(20, 300) } yield p * n
    Gen.frequency((1, Gen.const(null: String)), (1, Gen.const("")),
      (8, Gen.choose(1, 12).flatMap(Gen.listOfN(_, Gen.frequency((8, fuzzPiece), (1, run))))
        .map(_.mkString)))
  }
  private val fuzzLong: Gen[Long] = Gen.frequency((6, Arbitrary.arbitrary[Long]),
    (2, Gen.choose(-999L, 999L)), (1, Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L)))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  private def textFrame(texts: Seq[String]): DataFrame =
    frame(StructType(Seq(StructField("id", IntegerType), StructField("t", StringType))),
      texts.zipWithIndex.map { case (t, i) => Row(i, t) })

  /** `mismatches` is empty for 15 seeded draws of `gen`, under whole-stage codegen and
    * under the interpreted eval. */
  private def holdsInBothEvals[T](gen: Gen[T], seed: Long)(mismatches: T => Seq[Row]): Unit = {
    val prop = Prop.forAllNoShrink(gen) { in =>
      Prop.all(Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN")).map { case (ws, mode) =>
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        try {
          val bad = mismatches(in)
          Prop(bad.isEmpty) :| s"$mode: ${bad.take(3).mkString("; ")}"
        } finally {
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }: _*)
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(15).withInitialSeed(Seed(seed)), prop)
    assert(result.passed, result.status.toString)
  }

  test("Md5Fraction kernel is bit-identical to the conv/substring/md5 formula (r7 swap)") {
    def formula(c: Column) =
      conv(substring(md5(c.cast("string")), 1, 13), 16, 10).cast("double") / 4503599627370496.0
    holdsInBothEvals(Gen.listOfN(40, fuzzText), seed = 21L) { texts =>
      // string keys and the integer ids every sampler also keys on (cast to string)
      textFrame(texts).where(Seq("t", "id").map { c =>
          not(graft.data.Sampling.hashFraction(col(c)) <=> formula(col(c)))
        }.reduce(_ || _))
        .collect().toSeq
    }
  }

  test("TokenNgramHashes kernel is bit-identical to the HOF gram-hash chain (r7 swap)") {
    def oldChain(text: Column, n: Int) = {
      val w = TextAnalysis.wordTokens(text)
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => xxhash64(concat_ws(" ", slice(w, i + lit(1), lit(n))))))
        .otherwise(array().cast("array<bigint>"))
    }
    holdsInBothEvals(Gen.listOfN(30, fuzzText), seed = 22L) { texts =>
      textFrame(texts).where(Seq(1, 2, 3, 8).map { n =>
          not(oldChain(col("t"), n) <=> Decontaminate.tokenNgramHashes(col("t"), n))
        }.reduce(_ || _))
        .collect().toSeq
    }
  }

  test("DistinctShingles kernel matches the HOF chain modulo the filtered null (r7 swap)") {
    def oldChain(text: Column, k: Int) =
      array_distinct(transform(
        sequence(lit(0), greatest(length(text) - k, lit(0)) - lit(0)),
        i => when(length(text) >= k, substring(text, (i + 1).cast("int"), lit(k)))))
    // consumers explode + drop null grams: the old chain's [null] (short text) and
    // [] -after-filter (null text) both explode to nothing, like the kernel's
    // empty/null results — compare after that normalization
    holdsInBothEvals(Gen.listOfN(30, fuzzText), seed = 23L) { texts =>
      textFrame(texts).where(Seq(1, 2, 5).map { k =>
          not(filter(oldChain(col("t"), k), g => g.isNotNull) <=>
            coalesce(Dedup.shingles(col("t"), k), array()))
        }.reduce(_ || _))
        .collect().toSeq
    }
  }

  test("band-key kernels are bit-identical to the expression folds (r7 swap)") {
    import graft.functions.hashfns
    // per row: a text, 64 signature slots (or null) and a simhash (or null)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("t", StringType),
      StructField("raw", ArrayType(LongType, containsNull = false)),
      StructField("sim", LongType)))
    val rowGen = for {
      t <- fuzzText
      raw <- Gen.frequency((1, Gen.const(null: Seq[Long])), (6, Gen.listOfN(64, fuzzLong)))
      sim <- Gen.frequency((1, Gen.const(null: java.lang.Long)), (6, fuzzLong.map(Long.box)))
    } yield (t, raw, sim)
    // minhash: per band, xxhash64(concat_ws(",", element_at..)) over the band's slots;
    // a null signature gives null keys
    def bandFold(sig: Column, rows: Int, bands: Int) =
      when(sig.isNotNull, array((0 until bands).map { b =>
        xxhash64(concat_ws(",", (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*))
      }: _*))
    // simhash: per block combination, the shift/or fold of the chosen blocks; a null
    // simhash gives null keys
    def comboFold(sim: Column, width: Int, combos: Seq[Seq[Int]]) = {
      val mask = (1L << width) - 1L
      def blockVal(b: Int) = shiftright(sim, b * width).bitwiseAND(lit(mask))
      when(sim.isNotNull, array(combos.map(c =>
        c.map(blockVal).reduce((a, b) => shiftleft(a, width).bitwiseOR(b))): _*))
    }
    holdsInBothEvals(Gen.listOfN(30, rowGen), seed = 24L) { in =>
      val d = frame(schema, in.zipWithIndex.map { case ((t, raw, sim), i) => Row(i, t, raw, sim) })
      val bandChecks = Seq((2, 32), (1, 4), (5, 3)).flatMap { case (rows, bands) =>
        Seq(hashfns.minhashSignature(col("t"), 5, rows * bands),
            slice(col("raw"), 1, rows * bands)).map { sig =>
          not(bandFold(sig, rows, bands) <=> hashfns.minhashBandKeys(sig, rows, bands))
        }
      }
      val comboChecks = Seq((8, 8, 5), (16, 4, 2), (21, 3, 2)).flatMap { case (width, blocks, keep) =>
        val combos = (0 until blocks).combinations(keep).map(_.toSeq).toSeq
        Seq(hashfns.simhash64(col("t")), col("sim")).map { sim =>
          not(comboFold(sim, width, combos) <=> hashfns.simhashBucketKeys(sim, width, combos))
        }
      }
      d.where((bandChecks ++ comboChecks).reduce(_ || _)).collect().toSeq
    }
  }

  test("ArgMaxCosine kernel equals the greatest-of-structs formula (r7 swap, property)") {
    import graft.functions.vecfns
    val dim = 3
    // few distinct values: exact cosine ties, ±0.0 and zero vectors (NaN cosine) are common
    val elem = Gen.oneOf(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
    val elemOrNull: Gen[java.lang.Double] =
      Gen.frequency((9, elem.map(Double.box)), (1, Gen.const(null: java.lang.Double)))
    val vecGen: Gen[Seq[java.lang.Double]] = Gen.frequency(
      (1, Gen.const(null: Seq[java.lang.Double])),
      (8, Gen.listOfN(dim, elemOrNull)),
      (1, Gen.oneOf(dim - 1, dim + 1).flatMap(Gen.listOfN(_, elemOrNull)))) // length mismatch
    // distinct ids in random order, so the smallest id is not always the first centroid
    val centroidsGen = for {
      ids <- Gen.listOfN(5, Gen.choose(0L, 20L)).map(_.distinct).suchThat(_.size >= 2)
      vecs <- Gen.listOfN(ids.size, Gen.listOfN(dim, elem))
    } yield ids.zip(vecs)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    // the formula the kernel replaced: max (cosine, -id) struct, negated back to an id
    def formula(cents: Seq[(Long, List[Double])]) =
      -greatest(cents.map { case (cid, vec) =>
        struct(vecfns.cosineSim(col("v"), typedLit(vec)).as("s"), lit(-cid).as("negc"))
      }: _*).getField("negc")
    def mismatches(cents: Seq[(Long, List[Double])], df: DataFrame): Seq[Row] =
      df.select(col("id"), col("v"), formula(cents).as("o"),
          vecfns.argMaxCosine(col("v"), cents.map(_._1), cents.map(_._2)).as("k"))
        .where(not(col("o") <=> col("k"))).collect().toSeq
    holdsInBothEvals(Gen.zip(centroidsGen, Gen.listOfN(40, vecGen)), seed = 11L) {
      case (cents, vecs) =>
        mismatches(cents, frame(schema, vecs.zipWithIndex.map { case (v, i) => Row(i, v) }))
    }
    // an exact tie goes to the smallest id, wherever it sits in the centroid list
    val tie = frame(schema, Seq(Row(0, Seq[java.lang.Double](1.0, 0.0, 0.0))))
    val cents = Seq(9L -> List(1.0, 0.0, 0.0), 4L -> List(2.0, 0.0, 0.0), 6L -> List(0.0, 1.0, 0.0))
    assert(tie.select(vecfns.argMaxCosine(col("v"), cents.map(_._1), cents.map(_._2)))
      .head().getLong(0) == 4L)
    assert(mismatches(cents, tie).isEmpty)
  }
}
