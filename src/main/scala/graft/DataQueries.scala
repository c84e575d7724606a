package graft

import graft.data.{Ann, Decontaminate, Dedup, LmQuality, TextAnalysis}
import graft.functions.hashfns
import graft.functions.rounding.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-gate queries for the training-data ops (dedup / similarity search / text
  * analysis) over the documents and embeddings tables. Same conventions as [[Queries]].
  *
  * Near-dup queries plant duplicates by unioning shifted copies of the input table —
  * derived purely from the driver's data, mirrored verbatim in the oracle SQL — so the
  * outputs are non-trivial.
  */
object DataQueries {
  import Queries.{r6sql, Gate}

  /** documents ∪ exact copies (ids +100000) ∪ perturbed copies (ids +200000). */
  private def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 500)
    base
      .unionByName(base.where(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(base.where(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + 200000).as("doc_id"), concat(col("text"), lit(" xyzzy")).as("text")))
  }
  private val docsWithDupsSql =
    "SELECT doc_id, text FROM documents WHERE doc_id < 500 " +
      "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50 " +
      "UNION ALL SELECT doc_id + 200000, text || ' xyzzy' FROM documents WHERE doc_id >= 50 AND doc_id < 100"

  // ------------------------------------------------------------------------- dedup

  private val qDedupExact = Gate((spark, dir) => {
    Dedup.exact(docsWithDups(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("text_md5"), col("dup_group_size"),
        col("dup_keeper_id"), col("is_duplicate"))
      .orderBy("doc_id")
  }, oracleSql =
    s"WITH d AS ($docsWithDupsSql) " +
      "SELECT doc_id, md5(text) AS text_md5, " +
      "count(*) OVER (PARTITION BY md5(text)) AS dup_group_size, " +
      "min(doc_id) OVER (PARTITION BY md5(text)) AS dup_keeper_id, " +
      "doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate " +
      "FROM d ORDER BY doc_id")

  /** Incremental crawl-over-crawl dedup: the batch (docsWithDups — base 0..499 plus
    * exact and perturbed copies) dedups against a prior-corpus hash table built from
    * documents 0..249. Base ids < 250 and the exact copies of ids < 50 vanish
    * (their text is already kept); perturbed copies and base ids ≥ 250 survive,
    * minus batch-internal exact dups (min-id keeper). The oracle recomputes the
    * anti-join + keeper window from scratch.
    */
  private val qDedupIncremental = Gate((spark, dir) => {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 250).select(md5(col("text")).as("text_md5"))
    Dedup.dedupIncremental(docsWithDups(spark, dir), "doc_id", "text", corpus, "text_md5")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }, oracleSql =
    s"WITH d AS ($docsWithDupsSql), " +
      "corp AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250), " +
      "h AS (SELECT doc_id, md5(text) AS h FROM d), " +
      "f AS (SELECT * FROM h WHERE h NOT IN (SELECT h FROM corp)), " +
      "k AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS keep FROM f) " +
      "SELECT doc_id, h AS text_md5 FROM k WHERE doc_id = keep ORDER BY doc_id")

  // the exact 5-gram jaccard pair set >= 0.5: q_ngram_pairs' oracle and q_minhash_pairs'
  private val ngramPairsSql =
    s"WITH d AS (SELECT * FROM ($docsWithDupsSql) WHERE doc_id < 100 OR doc_id >= 100000), " +
      "g AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(length(text) - 4, 0)), " +
      "r -> substr(text, r, 5))) AS gram FROM d), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1), " +
      "pairs AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS inter " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT idA, idB, inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE AS jaccard " +
      "FROM pairs JOIN sz sa ON sa.doc_id = idA JOIN sz sb ON sb.doc_id = idB) " +
      s"SELECT idA, idB, ${r6sql("jaccard")} AS jaccard FROM j WHERE jaccard >= 0.5 ORDER BY idA, idB"

  /** Exact character-5-gram jaccard pairs ≥ 0.5 — the distributed exact formulation
    * (distinct shingles → gram join → |∩|/|∪|), oracle via lateral gram expansion.
    */
  private val qNgramPairs = Gate((spark, dir) => {
    val d = docsWithDups(spark, dir).where(col("doc_id") < 100 || col("doc_id") >= 100000)
    val grams = d.select(col("doc_id"), explode(Dedup.shingles(col("text"), 5)).as("gram"))
      .where(col("gram").isNotNull).distinct()
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("idA"), col("b.doc_id").as("idB"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "idA").withColumnRenamed("n", "nA"), "idA")
      .join(sizes.withColumnRenamed("doc_id", "idB").withColumnRenamed("n", "nB"), "idB")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nA") + col("nB") - col("inter")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select(col("idA"), col("idB"), r6(col("jaccard")).as("jaccard"))
      .orderBy("idA", "idB")
  }, ngramPairsSql)

  /** MinHash+LSH candidates exact-verified — banding internals are engine-specific, but
    * with numHashes=64/bands=32 on planted exact+near dups the verified output equals
    * the exact-threshold pair set, which IS SQL-expressible: the oracle recomputes the
    * exact jaccard pair set at the same threshold. (If banding ever misses a true pair
    * the hash-compare fails loudly — recall regression, not silent.)
    */
  private val qMinhashPairs = Gate((spark, dir) => {
    val d = docsWithDups(spark, dir).where(col("doc_id") < 100 || col("doc_id") >= 100000)
    Dedup.minhashLsh(d, "doc_id", "text", shingleSize = 5, numHashes = 64, bands = 32,
      threshold = 0.5)
      .select(col("idA"), col("idB"), r6(col("jaccard")).as("jaccard"))
      .orderBy("idA", "idB")
  }, ngramPairsSql)

  // --------------------------------------------------------------------- similarity

  // exact brute-force cosine top-3 of vec_id < 10: q_ann_topk's oracle and q_ann_ivf's
  private val annTopKSql =
    "WITH s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine " +
      "FROM embeddings a, embeddings b WHERE a.vec_id < 10 AND b.vec_id != a.vec_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
      "FROM s) " +
      s"SELECT query_id, rank, neighbor_id, ${r6sql("cosine")} AS cosine FROM r " +
      "WHERE rank <= 3 ORDER BY query_id, rank"

  private val qAnnTopK = Gate((spark, dir) => {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    Ann.bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), r6(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }, annTopKSql)

  /** Dup-cluster assignment via connected components. The input edges are CHAINS
    * within each md5 group (doc → next doc, not all pairs), so min-label propagation
    * must actually walk the diameter-3 chains (4 copies of ids < 50); the oracle is
    * the md5-group min id.
    */
  private def dupClustersQuery(collectThreshold: Long): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val base = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).where(col("doc_id") < 200)
      val d = base
        .unionByName(base.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .unionByName(base.where(col("doc_id") < 100)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
        .unionByName(base.where(col("doc_id") < 50)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val edges = d.select(col("doc_id"), lag(col("doc_id"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .select(col("prev").as("idA"), col("doc_id").as("idB"))
      val clusters = Dedup.dupClusters(edges, collectThreshold = collectThreshold)
      d.join(clusters, d("doc_id") === clusters("id"), "left")
        .select(d("doc_id"), coalesce(col("cluster_id"), d("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }

  private val dupClustersSql =
    "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200 " +
      "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200 " +
      "UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id < 100 " +
      "UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id < 50) " +
      "SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id " +
      "FROM d ORDER BY doc_id"

  private val qDupClusters = Gate(dupClustersQuery(collectThreshold = 1000000L), dupClustersSql)

  /** The SAME chain graph and oracle, with the driver-local union-find fast path
    * DISABLED (`collectThreshold = 0`) so the iterative min-label-propagation +
    * pointer-jumping rounds — the code a 100-TB edge set actually runs — get a hard
    * oracle row of their own. The diameter-3 chains (4 copies of ids < 50) force
    * ≥2 real propagation rounds before the label sum fixes.
    */
  private val qDupClustersDist = Gate(dupClustersQuery(collectThreshold = 0L), dupClustersSql)

  /** IVF with nProbe == nCentroids probes every cell, so the output must equal the
    * exact brute-force top-k — an exact oracle that still exercises the scale path
    * (centroid choice, assignment pass, probe join, per-cell ranking).
    */
  private val qAnnIvf = Gate((spark, dir) => {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    Ann.ivfTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id",
        k = 3, nCentroids = 8, nProbe = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"), r6(col("cosine")).as("cosine"))
      .orderBy("query_id", "rank")
  }, annTopKSql)

  // the exact cosine >= 0.999 pair set over embeddings plus planted copies of vec_id < 50:
  // q_embed_dup's oracle and q_semantic_pairs'
  private val embedDupSql =
    "WITH e AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50), " +
      "s AS (SELECT a.vec_id AS idA, b.vec_id AS idB, " +
      "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / " +
      "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine " +
      "FROM e a JOIN e b ON a.vec_id < b.vec_id) " +
      s"SELECT idA, idB, ${r6sql("cosine")} AS cosine FROM s WHERE cosine >= 0.999 ORDER BY idA, idB"

  /** Embedding near-dup (SRP sketch + exact verify) on planted exact copies. The base
    * embeddings are near-orthogonal (max natural cosine ≈ 0.51 — measured), so at
    * threshold 0.999 the expected pair set is exactly the planted copies, which the
    * oracle recomputes with exact cosine in SQL.
    */
  private val qEmbedDup = Gate((spark, dir) => {
    val base = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val withDups = base.unionByName(base.where(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.embeddingCosinePairs(withDups, "vec_id", "embedding", sketchBits = 16, threshold = 0.999)
      .select(col("idA"), col("idB"), r6(col("cosine")).as("cosine"))
      .orderBy("idA", "idB")
  }, embedDupSql)

  /** SemDeDup-style cluster-then-verify pairs at threshold 0.999 on planted exact
    * copies: identical vectors always share a Voronoi cell, so on this corpus the
    * output equals the EXACT pair set — the same loud-recall-check oracle design as
    * q_minhash_pairs/q_embed_dup (a split true pair hash-mismatches, not silently).
    */
  private val qSemanticPairs = Gate((spark, dir) => {
    val base = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val withDups = base.unionByName(base.where(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.semanticPairs(withDups, "vec_id", "embedding", nCentroids = 8, threshold = 0.999)
      .select(col("idA"), col("idB"), r6(col("cosine")).as("cosine"))
      .orderBy("idA", "idB")
  }, embedDupSql)

  /** Deterministic hash sampling: uniform 20% by doc id plus a stratified variant
    * (downsample "en" to 10%, default 50%). The oracle reproduces the exact md5-based
    * keep decision — no RNG, so both engines select identical row sets.
    */
  private val qSample = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val uniform = graft.data.Sampling.byHash(d, col("doc_id"), 0.2)
      .select(col("doc_id"), lit("uniform").as("which"))
    val strat = graft.data.Sampling.stratified(d, col("doc_id"), col("lang"),
        Map("en" -> 0.1), defaultRate = 0.5)
      .select(col("doc_id"), lit("stratified").as("which"))
    uniform.unionByName(strat).orderBy("which", "doc_id")
  }, oracleSql = {
    val frac = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE / 4503599627370496.0)"
    s"WITH u AS (SELECT doc_id, 'uniform' AS which FROM documents WHERE $frac < 0.2), " +
      s"s AS (SELECT doc_id, 'stratified' AS which FROM documents " +
      s"WHERE $frac < CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END) " +
      "SELECT * FROM u UNION ALL SELECT * FROM s ORDER BY which, doc_id"
  })

  /** Cleaning operators: NFC normalization + PII masking over texts planted with an
    * email, a phone-like run, a dotted quad, and a DECOMPOSED accent (e + U+0301).
    * Both engines build the identical input; outputs compare as md5 so the gate rows
    * stay small. DuckDB regexp_replace needs the 'g' flag (Spark replaces all).
    */
  private val qNormalize = Gate((spark, dir) => {
    import graft.data.TextAnalysis
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 300)
    val planted = concat(col("text"), lit(" contact user"), col("doc_id"),
      lit("@example.com or +1 555 123 4567 at 10.0.0.1 cafe\u0301")) // decomposed e + combining acute, on purpose
    d.select(col("doc_id"),
        md5(TextAnalysis.nfcNormalize(planted)).as("nfc_md5"),
        md5(TextAnalysis.maskPii(planted)).as("masked_md5"))
      .orderBy("doc_id")
  }, oracleSql = {
    val maskedExpr = graft.data.TextAnalysis.piiPatterns.foldLeft("t") {
      case (acc, (rx, repl)) => s"regexp_replace($acc, '$rx', '$repl', 'g')"
    }
    "WITH d AS (SELECT doc_id, text || ' contact user' || doc_id || " +
      "'@example.com or +1 555 123 4567 at 10.0.0.1 cafe' || chr(769) AS t " +
      "FROM documents WHERE doc_id < 300) " +
      s"SELECT doc_id, md5(nfc_normalize(t)) AS nfc_md5, md5($maskedExpr) AS masked_md5 " +
      "FROM d ORDER BY doc_id"
  })

  /** Anti-domination cap: at most 3 docs per source, largest first (n_chars desc,
    * doc_id asc tie-break) — the QUALIFY-style curation rule.
    */
  private val qDomainCap = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    graft.data.Sampling.capPerGroup(d, col("source"), col("n_chars"), col("doc_id"), k = 3)
      .orderBy("doc_id")
  }, oracleSql =
    "SELECT doc_id, source, n_chars FROM documents " +
      "QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) <= 3 " +
      "ORDER BY doc_id")

  // ------------------------------------------------------------------ text analysis

  private val qTokenCount = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("token_count"),
        TextAnalysis.whitespaceTokenCount(col("text")).as("ws_token_count"))
      .orderBy("doc_id")
  }, oracleSql =
    """SELECT doc_id, length(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS token_count, """ +
      "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(string_split_regex(trim(text), '\\s+')) END " +
      "AS ws_token_count FROM documents ORDER BY doc_id")

  private val qQuality = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    d.select(col("doc_id"), r6(TextAnalysis.qualityScore(col("text"))).as("quality_score"))
      .orderBy("doc_id")
  }, oracleSql = {
    val stopRegexes = TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
      .map { case (_, ws) => ws.mkString("\\b(", "|", ")\\b") }
    val stopTerms = stopRegexes.map(rx =>
      s"length(regexp_extract_all(lower(text), '$rx'))::DOUBLE / greatest(toks, 1.0)").mkString("greatest(", ", ", ")")
    "WITH b AS (SELECT doc_id, text, length(text)::DOUBLE AS len, " +
      "length(regexp_extract_all(text, '\\p{L}'))::DOUBLE AS alpha, " +
      "length(regexp_extract_all(text, '\\p{N}'))::DOUBLE AS digits, " +
      "length(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE AS punct, " +
      "greatest(length(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]'))::DOUBLE, 1.0) AS toks " +
      "FROM documents), " +
      s"c AS (SELECT doc_id, least(len / 200.0, 1.0) AS ls, alpha / greatest(len, 1.0) AS asc_, " +
      s"least($stopTerms * 10.0, 1.0) AS ss, " +
      "least(digits / greatest(len, 1.0) * 2.0, 1.0) AS dp, least(punct / toks * 5.0, 1.0) AS ps FROM b), " +
      "q AS (SELECT doc_id, greatest(least(ls * 0.3 + asc_ * 0.3 + ss * 0.2 + (1.0 - dp) * 0.1 + ps * 0.1, 1.0), 0.0) AS quality_score FROM c) " +
      s"SELECT doc_id, ${r6sql("quality_score")} AS quality_score FROM q ORDER BY doc_id"
  })

  private val qLangId = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id")).orderBy("doc_id")
  }, oracleSql = {
    val scoreRows = TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      val rx = ws.mkString("\\b(", "|", ")\\b")
      s"SELECT doc_id, '$lang' AS lang, length(regexp_extract_all(lower(text), '$rx'))::DOUBLE / " +
        "greatest(length(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]'))::DOUBLE, 1.0) AS score FROM documents"
    }.mkString(" UNION ALL ")
    s"WITH s AS ($scoreRows), " +
      "best AS (SELECT doc_id, lang, score FROM s " +
      "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) = 1) " +
      "SELECT doc_id, CASE WHEN score >= 0.01 THEN lang ELSE 'und' END AS lang_id " +
      "FROM best ORDER BY doc_id"
  })

  /** documents ∪ exact copies only (ids +100000) — the planted pair set is derivable
    * in SQL via md5(text) equality, giving the hash-family queries a real oracle.
    */
  private def docsWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 500)
    base.unionByName(base.where(col("doc_id") < 50)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }
  private val docsWithExactDupsSql =
    "SELECT doc_id, text FROM documents WHERE doc_id < 500 " +
      "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50"

  /** The documents table is drawn from a ~30-word vocabulary, so DISTINCT docs are
    * often genuine near-duplicates (hamming(simhash) ≤ 3) — correct behavior, but not
    * SQL-derivable. Salting each text with heavy tokens derived from md5(text) keeps
    * identical texts identical (planted pairs survive) while driving every pair of
    * distinct texts to ~random hamming distance (≈32 ≫ 3), making the md5-equality
    * pair set the exact expected output.
    */
  private def saltedText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val chunks = regexp_replace(md5(text), "(....)", "$1 ") // 8 four-hex-char tokens
    concat(text, lit(" "), concat_ws(" ", Seq.fill(8)(chunks): _*)) // ×8 vote weight
  }

  /** Fingerprint dedup-group stats: rolling-fingerprint and simhash equality classes
    * over planted exact dups must equal the md5 classes (the SQL oracle) — a collision
    * or a normalization bug fails the hash-compare loudly.
    */
  private val qFingerprints = Gate((spark, dir) => {
    val wf = Window.partitionBy(col("fp"))
    val ws = Window.partitionBy(col("sim"))
    docsWithExactDups(spark, dir)
      .select(col("doc_id"), hashfns.rollingFingerprint(col("text")).as("fp"),
        hashfns.simhash64(saltedText(col("text"))).as("sim"))
      .select(col("doc_id"),
        count(lit(1)).over(wf).as("fp_group_size"),
        min(col("doc_id")).over(wf).as("fp_keeper_id"),
        (col("doc_id") =!= min(col("doc_id")).over(wf)).as("fp_is_duplicate"),
        count(lit(1)).over(ws).as("sim_group_size"))
      .orderBy("doc_id")
  }, oracleSql =
    s"WITH d AS ($docsWithExactDupsSql) " +
      "SELECT doc_id, count(*) OVER w AS fp_group_size, " +
      "min(doc_id) OVER w AS fp_keeper_id, " +
      "doc_id != min(doc_id) OVER w AS fp_is_duplicate, " +
      "count(*) OVER w AS sim_group_size " +
      "FROM d WINDOW w AS (PARTITION BY md5(text)) ORDER BY doc_id")

  /** SimHash pairs on planted exact dups, via the blocks=8 combination-bucket path
    * (the ≥10⁹-doc configuration). maxHamming=3 so the buckets are exercised for
    * real; the expected pair set is the md5-equal set (hamming 0) — any stray
    * near-pair among the base docs would fail loudly.
    */
  private val qSimhashPairs = Gate((spark, dir) => {
    val d = docsWithExactDups(spark, dir)
      .select(col("doc_id"), saltedText(col("text")).as("text"))
    Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, blocks = 8)
      .orderBy("idA", "idB")
  }, oracleSql =
    s"WITH d AS ($docsWithExactDupsSql) " +
      "SELECT a.doc_id AS idA, b.doc_id AS idB, 0::BIGINT AS hamming " +
      "FROM d a JOIN d b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id " +
      "ORDER BY idA, idB")

  /** Text-similarity family gate over consecutive-doc 40-char prefixes. Only the
    * implementation-unambiguous members are oracle-checked: plain Levenshtein
    * similarity and bigram-set Jaccard. OSA/Jaro/Jaro-Winkler diverge between engines
    * on greedy-match/transposition tie-breaks (DuckDB's jaro disagrees with the
    * polars-ds semantics the engine reproduces on ~3% of random strings — measured),
    * so those stay golden-tested against polars-ds values in TextSpec.
    */
  private val qTextSim = Gate((spark, dir) => {
    import graft.functions.textfns
    // length >= 2 keeps both engines off the degenerate cases (the engine defines
    // 0/0 similarities as 1.0; the naive SQL would divide by zero)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      .where(length(col("t")) >= 2)
    val nxt = d.select((col("doc_id") - 1).as("doc_id"), col("t").as("t2"))
    d.join(nxt, "doc_id")
      .select(col("doc_id"),
        r6(textfns.levenshteinSim(col("t"), col("t2"))).as("lev_sim"),
        r6(textfns.ngramJaccardSim(col("t"), col("t2"), 2)).as("jaccard2"))
      .orderBy("doc_id")
  }, oracleSql = {
    val grams = (s: String) =>
      s"list_distinct(list_transform(generate_series(1, greatest(length($s) - 1, 0)), r -> substr($s, r, 2)))"
    "WITH d AS (SELECT doc_id, substr(text, 1, 40) AS t FROM documents WHERE length(substr(text, 1, 40)) >= 2), " +
      "p AS (SELECT a.doc_id, a.t AS t1, b.t AS t2 FROM d a JOIN d b ON b.doc_id = a.doc_id + 1), " +
      "g AS (SELECT doc_id, t1, t2, " +
      s"len(list_intersect(${grams("t1")}, ${grams("t2")}))::DOUBLE AS gi, " +
      s"len(${grams("t1")})::DOUBLE AS ga, len(${grams("t2")})::DOUBLE AS gb FROM p), " +
      "r AS (SELECT doc_id, " +
      "1.0 - levenshtein(t1, t2)::DOUBLE / greatest(length(t1), length(t2)) AS lev_sim, " +
      "gi / (ga + gb - gi) AS jaccard2 FROM g) " +
      s"SELECT doc_id, ${Seq("lev_sim", "jaccard2").map(n => s"${r6sql(n)} AS $n").mkString(", ")} " +
      "FROM r ORDER BY doc_id"
  })

  /** DL/Jaro/Jaro-Winkler gate on TIE-BREAK-FREE planted pairs. The metrics diverge
    * between engines on ~3% of RANDOM strings (greedy-match tie-breaks; DuckDB's
    * damerau_levenshtein is full DL vs the engine's OSA — measured in r1/r2), but on
    * strings with all-distinct characters and at most one edit the match assignment
    * is unambiguous and OSA ≡ DL, so DuckDB's jaro_similarity /
    * jaro_winkler_similarity / damerau_levenshtein agree EXACTLY (probed: 0/1500
    * mismatches). Pairs are built deterministically from doc_id in both engines:
    * t1 = a 12-char window into a 36-unique-char alphabet, t2 = identity / one
    * deletion / one substitution / one adjacent transposition by doc_id % 4.
    */
  private val jaroAlphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val qJaroSim = Gate((spark, dir) => {
    import graft.functions.textfns
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).where(col("doc_id") < 500)
    val t1 = lit(jaroAlphabet).substr((col("doc_id") % 20 + 1).cast("int"), lit(12))
    val v = col("doc_id") % 4
    val t2 = when(v === 0, t1)
      .when(v === 1, concat(substring(t1, 1, 5), substring(t1, 7, 6)))
      .when(v === 2, concat(substring(t1, 1, 2), lit("#"), substring(t1, 4, 9)))
      .otherwise(concat(substring(t1, 1, 3), substring(t1, 5, 1), substring(t1, 4, 1),
        substring(t1, 6, 7)))
    d.select(col("doc_id"),
        r6(textfns.damerauLevenshteinSim(t1, t2)).as("dl_sim"),
        r6(textfns.jaroSim(t1, t2)).as("jaro_sim"),
        r6(textfns.jaroWinklerSim(t1, t2)).as("jw_sim"))
      .orderBy("doc_id")
  }, oracleSql = {
    val t1 = s"substr('$jaroAlphabet', (doc_id % 20)::INT + 1, 12)"
    "WITH p AS (SELECT doc_id, t1, CASE doc_id % 4 WHEN 0 THEN t1 " +
      "WHEN 1 THEN substr(t1, 1, 5) || substr(t1, 7, 6) " +
      "WHEN 2 THEN substr(t1, 1, 2) || '#' || substr(t1, 4, 9) " +
      "ELSE substr(t1, 1, 3) || substr(t1, 5, 1) || substr(t1, 4, 1) || substr(t1, 6, 7) END AS t2 " +
      s"FROM (SELECT doc_id, $t1 AS t1 FROM documents WHERE doc_id < 500)), " +
      "s AS (SELECT doc_id, " +
      "1.0 - damerau_levenshtein(t1, t2)::DOUBLE / greatest(length(t1), length(t2)) AS dl_sim, " +
      "jaro_similarity(t1, t2) AS jaro_sim, jaro_winkler_similarity(t1, t2) AS jw_sim FROM p) " +
      s"SELECT doc_id, ${Seq("dl_sim", "jaro_sim", "jw_sim").map(n => s"${r6sql(n)} AS $n").mkString(", ")} " +
      "FROM s ORDER BY doc_id"
  })

  /** Corpus word-frequency table (tokenizer-training input): same lowercase
    * letter/digit-run tokenization in both engines.
    */
  private val qWordCounts = Gate((spark, dir) => {
    TextAnalysis.wordCounts(spark.read.parquet(s"$dir/documents.parquet"), "text")
      .orderBy("token")
  }, oracleSql =
    "SELECT token, count(*) AS n FROM (SELECT unnest(regexp_extract_all(lower(text), " +
      "'[\\p{L}\\p{N}]+')) AS token FROM documents) WHERE length(token) > 0 " +
      "GROUP BY token ORDER BY token")

  /** Repetition/format quality signals (Gopher-style) over deterministically
    * reshaped documents: the word-bag docs are broken into 4-word lines, with
    * bullet pairs / '#…' symbols / ellipsis suffixes planted on id-keyed subsets so
    * every signal takes non-trivial values. The reshaping is mirrored verbatim in
    * the oracle SQL.
    */
  private val qRepetition = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val t = concat(
      when(col("doc_id") % 7 === 0, lit("• alpha beta\n• alpha beta\n")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("# … ")).otherwise(lit("")),
      regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n"),
      when(col("doc_id") % 6 === 0, lit("\nread more…")).otherwise(lit("")))
    d.select(col("doc_id"),
        r6(TextAnalysis.dupLineFraction(t)).as("dup_line_frac"),
        r6(TextAnalysis.dupWordFraction(t)).as("dup_word_frac"),
        r6(TextAnalysis.symbolToWordRatio(t)).as("symbol_word_ratio"),
        r6(TextAnalysis.bulletLineFraction(t)).as("bullet_line_frac"),
        r6(TextAnalysis.ellipsisLineFraction(t)).as("ellipsis_line_frac"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH t0 AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 7 = 0 THEN '• alpha beta' || chr(10) || '• alpha beta' || chr(10) ELSE '' END) " +
      "|| (CASE WHEN doc_id % 5 = 0 THEN '# … ' ELSE '' END) " +
      "|| regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') " +
      "|| (CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'read more…' ELSE '' END) AS t FROM documents), " +
      "a AS (SELECT doc_id, t, " +
      "list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> length(x) > 0) AS l, " +
      "regexp_extract_all(lower(t), '[\\p{L}\\p{N}]+') AS w FROM t0), " +
      "s AS (SELECT doc_id, " +
      "CASE WHEN len(l) > 0 THEN (len(l) - len(list_distinct(l)))::DOUBLE / len(l) ELSE 0.0 END AS dup_line_frac, " +
      "CASE WHEN len(w) > 0 THEN (len(w) - len(list_distinct(w)))::DOUBLE / len(w) ELSE 0.0 END AS dup_word_frac, " +
      "length(regexp_extract_all(t, '[#…]'))::DOUBLE / greatest(len(w), 1)::DOUBLE AS symbol_word_ratio, " +
      "CASE WHEN len(l) > 0 THEN len(list_filter(l, x -> regexp_matches(x, '^[•‣▶*-]')))::DOUBLE / len(l) ELSE 0.0 END AS bullet_line_frac, " +
      "CASE WHEN len(l) > 0 THEN len(list_filter(l, x -> regexp_matches(x, '(\\.\\.\\.|…)$')))::DOUBLE / len(l) ELSE 0.0 END AS ellipsis_line_frac " +
      "FROM a) " +
      s"SELECT doc_id, ${Seq("dup_line_frac", "dup_word_frac", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac").map(n => s"${r6sql(n)} AS $n").mkString(", ")} " +
      "FROM s ORDER BY doc_id")

  /** Benchmark decontamination, substring path (one Aho–Corasick pass per
    * document): snippets are chars 21–60 of every 50th document (planted from the
    * corpus itself, so matches are guaranteed and the same text appearing in other
    * documents flags them too).
    */
  private val qDecontam = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 50 === 7)
      .select(substring(col("text"), 21, 40).as("snippet"))
    Decontaminate.flagContains(d, "text", bench, "snippet")
      .select(col("doc_id"), col("contaminated").cast("int").as("contaminated"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH s AS (SELECT substr(text, 21, 40) AS snip FROM documents WHERE doc_id % 50 = 7) " +
      "SELECT d.doc_id, (EXISTS (SELECT 1 FROM s WHERE length(s.snip) > 0 " +
      "AND contains(d.text, s.snip)))::INT AS contaminated FROM documents d ORDER BY doc_id")

  /** Decontamination, token-8-gram path (the distributed semi-join
    * [[Decontaminate.flagNgramOverlap]]): the engine compares xxhash64 of the grams;
    * the oracle compares the gram STRINGS — equal outputs certify the gram
    * extraction AND that hashing introduced no false positives on this corpus.
    */
  private val qDecontamNgram = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 50 === 7)
    Decontaminate.flagNgramOverlap(d, "doc_id", "text", bench, "text", n = 8)
      .select(col("doc_id"), col("contaminated").cast("int").as("contaminated"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS w FROM documents), " +
      "bg AS (SELECT DISTINCT g FROM (SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok WHERE doc_id % 50 = 7)), " +
      "dg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok) " +
      "SELECT t.doc_id, (EXISTS (SELECT 1 FROM dg JOIN bg ON dg.g = bg.g " +
      "WHERE dg.doc_id = t.doc_id))::INT AS contaminated FROM tok t ORDER BY doc_id")

  /** The same n-gram semi-join as q_decontam_ngram over a different benchmark slice
    * (`doc_id % 50 = 23`), so the two certify independently. The oracle joins gram
    * STRINGS; the engine joins xxhash64 hashes (certified no-false-positive on the
    * gate corpus by the comparison itself).
    */
  private val qDecontamJoin = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 50 === 23)
    Decontaminate.flagNgramOverlap(d, "doc_id", "text", bench, "text", n = 8)
      .select(col("doc_id"), col("contaminated").cast("int").as("contaminated"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS w FROM documents), " +
      "bg AS (SELECT DISTINCT g FROM (SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok WHERE doc_id % 50 = 23)), " +
      "dg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok) " +
      "SELECT t.doc_id, (EXISTS (SELECT 1 FROM dg JOIN bg ON dg.g = bg.g " +
      "WHERE dg.doc_id = t.doc_id))::INT AS contaminated FROM tok t ORDER BY doc_id")

  /** Corpus-wide line-level boilerplate dedup: docs get a shared header/footer line
    * planted on id-keyed subsets (plus whatever 4-word lines repeat naturally in the
    * word-bag corpus); every line ≥10 chars that repeats anywhere survives only at
    * its first `(doc_id, pos)` occurrence.
    */
  private val qLineDedup = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val t = concat(
      when(col("doc_id") % 3 === 0, lit("SHARED BOILERPLATE LINE ALPHA\n")).otherwise(lit("")),
      regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n"),
      when(col("doc_id") % 4 === 0, lit("\nSHARED FOOTER LINE BETA")).otherwise(lit("")))
    Dedup.dedupLines(d.select(col("doc_id"), t.as("text")), "doc_id", "text",
        minLineChars = 10)
      .orderBy("doc_id")
  }, oracleSql =
    "WITH t0 AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'SHARED BOILERPLATE LINE ALPHA' || chr(10) ELSE '' END) " +
      "|| regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') " +
      "|| (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'SHARED FOOTER LINE BETA' ELSE '' END) AS text " +
      "FROM documents), " +
      "sp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM t0), " +
      "e AS (SELECT doc_id, unnest(l) AS line, unnest(generate_series(1, len(l))) AS pos FROM sp), " +
      "k AS (SELECT doc_id, pos, line, trim(line) AS tl, length(trim(line)) >= 10 AS elig FROM e), " +
      "d AS (SELECT *, CASE WHEN elig THEN count(*) OVER (PARTITION BY tl) ELSE 1 END AS cnt, " +
      "CASE WHEN elig THEN row_number() OVER (PARTITION BY tl ORDER BY doc_id, pos) ELSE 1 END AS rn FROM k), " +
      "r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM d " +
      "WHERE cnt = 1 OR rn = 1 GROUP BY doc_id) " +
      "SELECT t0.doc_id, coalesce(r.text, '') AS text FROM t0 LEFT JOIN r USING (doc_id) ORDER BY doc_id")

  /** Quality-aware keeper selection over exact-dup groups: each md5(text) family
    * keeps its highest-quality copy (deterministic quality = doc_id % 97; ties →
    * min id). With copies at +100000 the planted groups usually prefer the COPY
    * (100000 % 97 = 86 shifts the score), so the gate genuinely distinguishes
    * max-quality from min-id keeping.
    */
  private val qKeepBest = Gate((spark, dir) => {
    val scored = docsWithDups(spark, dir)
      .withColumn("quality", (col("doc_id") % 97).cast("double"))
      .withColumn("g", md5(col("text")))
    Dedup.keepBest(scored, "g", "doc_id", "quality")
      .select(col("doc_id"), col("quality")).orderBy("doc_id")
  }, oracleSql =
    s"WITH d AS ($docsWithDupsSql), " +
      "s AS (SELECT doc_id, (doc_id % 97)::DOUBLE AS quality, md5(text) AS g FROM d), " +
      "r AS (SELECT doc_id, quality, row_number() OVER (PARTITION BY g " +
      "ORDER BY quality DESC, doc_id ASC) AS rn FROM s) " +
      "SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id")

  /** CCNet-style LM quality screen: every document scored by its mean code-point-
    * trigram log-probability under an add-alpha-smoothed model trained on the SAME
    * corpus (vocab truncated to 2048 so the unseen-trigram mass is genuinely
    * exercised). The oracle retrains the model in SQL — same normalization, same
    * deterministic (count desc, gram asc) vocabulary cut, same smoothing — and
    * rescores every document; `(coalesce(c, 0) + α) / denom` collapses the
    * seen/unseen branches into one formula.
    */
  private val qLmQuality = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val model = LmQuality.trainTrigramLm(d, "text", vocab = 2048, alpha = 0.4)
    LmQuality.scoreTrigramLm(d, "text", model, "lm_logprob")
      .select(col("doc_id"), r6(col("lm_logprob")).as("lm_logprob"))
      .orderBy("doc_id")
  }, oracleSql =
    // the explicit whitespace class mirrors LmQuality.normalize byte-for-byte
    // (Java \s includes U+000B, RE2 \s does not — both parse this class the same)
    "WITH t0 AS (SELECT doc_id, regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS t FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)), " +
      "i -> substr(t, i, 3))) AS gr FROM t0 WHERE length(t) >= 3), " +
      "c AS (SELECT gr, count(*) AS c FROM g GROUP BY 1), " +
      "tot AS (SELECT sum(c)::DOUBLE AS n FROM c), " +
      "top AS (SELECT gr, c FROM c ORDER BY c DESC, gr ASC LIMIT 2048), " +
      "p AS (SELECT tot.n + 0.4 * ((SELECT count(*) FROM top) + 1) AS denom FROM tot), " +
      "s AS (SELECT g.doc_id, avg(ln((coalesce(top.c, 0) + 0.4) / p.denom)) AS lm " +
      "FROM g LEFT JOIN top ON g.gr = top.gr, p GROUP BY g.doc_id) " +
      s"SELECT t0.doc_id, ${r6sql("s.lm")} AS lm_logprob " +
      "FROM t0 LEFT JOIN s USING (doc_id) ORDER BY doc_id")

  /** CCNet's head/middle/tail perplexity split over the LM scores: cut points are
    * the exact interpolated score terciles (computed on r6-ROUNDED scores on both
    * sides, so the quantile inputs are bit-identical); the oracle retrains the
    * model, rescores, and recomputes the same `quantile_cont` cuts in SQL.
    */
  private val qLmBuckets = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val model = LmQuality.trainTrigramLm(d, "text", vocab = 2048, alpha = 0.4)
    val scored = LmQuality.scoreTrigramLm(d, "text", model, "lm_logprob")
      .select(col("doc_id"), r6(col("lm_logprob")).as("lm_logprob"))
    LmQuality.perplexityBuckets(scored, "lm_logprob")
      .select(col("doc_id"), col("lm_logprob"), col("lm_bucket"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH t0 AS (SELECT doc_id, regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS t FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(length(t) - 2, 0)), " +
      "i -> substr(t, i, 3))) AS gr FROM t0 WHERE length(t) >= 3), " +
      "c AS (SELECT gr, count(*) AS c FROM g GROUP BY 1), " +
      "tot AS (SELECT sum(c)::DOUBLE AS n FROM c), " +
      "top AS (SELECT gr, c FROM c ORDER BY c DESC, gr ASC LIMIT 2048), " +
      "p AS (SELECT tot.n + 0.4 * ((SELECT count(*) FROM top) + 1) AS denom FROM tot), " +
      "s AS (SELECT g.doc_id, avg(ln((coalesce(top.c, 0) + 0.4) / p.denom)) AS lm " +
      "FROM g LEFT JOIN top ON g.gr = top.gr, p GROUP BY g.doc_id), " +
      s"sc AS (SELECT t0.doc_id, ${r6sql("s.lm")} AS lm FROM t0 LEFT JOIN s USING (doc_id)), " +
      // 16-digit literals round-trip to the same doubles as Scala's 1.0/3 and 2.0/3
      "q AS (SELECT quantile_cont(lm, [0.3333333333333333, 0.6666666666666666]) AS c " +
      "FROM sc WHERE lm IS NOT NULL) " +
      "SELECT sc.doc_id, sc.lm AS lm_logprob, " +
      "CASE WHEN sc.lm IS NULL THEN NULL WHEN sc.lm <= q.c[1] THEN 'tail' " +
      "WHEN sc.lm <= q.c[2] THEN 'middle' ELSE 'head' END AS lm_bucket " +
      "FROM sc, q ORDER BY sc.doc_id")

  /** The full curation loop composed END-TO-END — MinHash+LSH near-dup pairs →
    * connected-component clusters → quality-aware keeper → corpus-wide line dedup —
    * so the interface contracts between stages (null policies, column names, id
    * types) are oracle-pinned as one unit, not just piecewise. The oracle
    * RECOMPUTES every stage in SQL: exact 5-gram jaccard pairs at the same
    * threshold (the LSH+verify output equals the exact pair set here, as
    * q_minhash_pairs certifies), transitive closure via a recursive CTE for the
    * clusters (the corpus has NATURAL near-dup pairs beyond the planted ones at
    * some SFs, so a structural shortcut would be wrong), max-quality/min-id
    * keeper, then the line-dedup window formulation over the kept corpus.
    */
  private val qCurationChain = Gate((spark, dir) => {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") < 100)
    val d0 = base
      .unionByName(base.where(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(base.where(col("doc_id") >= 50)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" xyzzy")).as("text")))
    // lined feeds the LSH signature pass, BOTH exact-verify text joins, and the
    // scored frame; kept feeds dedupLines' three self-references. Persisting the two
    // tiny frames stops the whole upstream chain re-executing per reference — worth
    // ~1.5s of this gate's fixed overhead (Bench clearCache()s after the gate set).
    val lined = d0.select(col("doc_id"), concat(
      when(col("doc_id") % 3 === 0, lit("SHARED BOILERPLATE LINE ALPHA\n")).otherwise(lit("")),
      regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+) ", "$1\n"),
      when(col("doc_id") % 4 === 0, lit("\nSHARED FOOTER LINE BETA")).otherwise(lit("")))
      .as("text")).persist()
    val pairs = Dedup.minhashLsh(lined, "doc_id", "text",
      shingleSize = 5, numHashes = 64, bands = 32, threshold = 0.5)
    val clusters = Dedup.dupClusters(pairs)
    val scored = lined
      .join(clusters, lined("doc_id") === clusters("id"), "left")
      .select(lined("doc_id"),
        coalesce(col("cluster_id"), lined("doc_id")).as("cluster_id"),
        (lined("doc_id") % 97).cast("double").as("quality"), col("text"))
    val kept = Dedup.keepBest(scored, "cluster_id", "doc_id", "quality").persist()
    // dedupLines rewrites text IN PLACE and threads cluster_id/quality through —
    // no re-join of the kept metadata after line dedup (one fewer shuffle join)
    Dedup.dedupLines(kept, "doc_id", "text", minLineChars = 10)
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("text"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100 " +
      "UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50 " +
      "UNION ALL SELECT doc_id + 200000, text || ' xyzzy' FROM documents WHERE doc_id >= 50 AND doc_id < 100), " +
      "t0 AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'SHARED BOILERPLATE LINE ALPHA' || chr(10) ELSE '' END) " +
      "|| regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') " +
      "|| (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'SHARED FOOTER LINE BETA' ELSE '' END) AS text " +
      "FROM d), " +
      // exact 5-gram jaccard pair set at the engine's threshold
      "g AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(length(text) - 4, 0)), " +
      "r -> substr(text, r, 5))) AS gram FROM t0), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1), " +
      "p0 AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS inter " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "j AS (SELECT idA, idB FROM (SELECT idA, idB, inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE AS jac " +
      "FROM p0 JOIN sz sa ON sa.doc_id = idA JOIN sz sb ON sb.doc_id = idB) WHERE jac >= 0.5), " +
      // connected components: transitive closure, cluster id = min reachable id
      "edges AS (SELECT idA AS a, idB AS b FROM j UNION SELECT idB, idA FROM j), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
      "cid AS (SELECT t0.doc_id, least(t0.doc_id, coalesce(min(r.b), t0.doc_id)) AS cluster_id, " +
      "(t0.doc_id % 97)::DOUBLE AS quality, t0.text FROM t0 " +
      "LEFT JOIN reach r ON r.a = t0.doc_id GROUP BY t0.doc_id, t0.text), " +
      // quality-aware keeper per cluster (max quality, ties -> min id)
      "k AS (SELECT *, row_number() OVER (PARTITION BY cluster_id " +
      "ORDER BY quality DESC, doc_id ASC) AS rn FROM cid), " +
      "kept AS (SELECT doc_id, cluster_id, quality, text FROM k WHERE rn = 1), " +
      // corpus-wide line dedup over the KEPT corpus
      "sp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM kept), " +
      "e AS (SELECT doc_id, unnest(l) AS line, unnest(generate_series(1, len(l))) AS pos FROM sp), " +
      "kk AS (SELECT doc_id, pos, line, trim(line) AS tl, length(trim(line)) >= 10 AS elig FROM e), " +
      "dd AS (SELECT *, CASE WHEN elig THEN count(*) OVER (PARTITION BY tl) ELSE 1 END AS cnt, " +
      "CASE WHEN elig THEN row_number() OVER (PARTITION BY tl ORDER BY doc_id, pos) ELSE 1 END AS rnl FROM kk), " +
      "r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM dd " +
      "WHERE cnt = 1 OR rnl = 1 GROUP BY doc_id) " +
      "SELECT kept.doc_id, kept.cluster_id, kept.quality, coalesce(r.text, '') AS text " +
      "FROM kept LEFT JOIN r USING (doc_id) ORDER BY doc_id")

  /** Script-composition profile over documents with planted non-Latin content:
    * every 25th doc is replaced by Cyrillic text (majority flip), others get a
    * minority-script suffix keyed on doc_id % 4.
    */
  private val qScriptProfile = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val t = when(col("doc_id") % 25 === 0, lit("привет мир снова и снова"))
      .otherwise(concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(" привет мир"))
          .when(col("doc_id") % 4 === 2, lit(" 你好世界"))
          .when(col("doc_id") % 4 === 3, lit(" مرحبا بالعالم"))
          .otherwise(lit(""))))
    val fracs = TextAnalysis.scriptFractions(t).map { case (s, c) => r6(c).as(s"${s}_frac") }
    d.select((col("doc_id") +: fracs :+ TextAnalysis.dominantScript(t).as("dominant_script")): _*)
      .orderBy("doc_id")
  }, oracleSql =
    "WITH t0 AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN 'привет мир снова и снова' " +
      "ELSE text || (CASE doc_id % 4 WHEN 1 THEN ' привет мир' WHEN 2 THEN ' 你好世界' " +
      "WHEN 3 THEN ' مرحبا بالعالم' ELSE '' END) END AS t FROM documents), " +
      "c AS (SELECT doc_id, length(regexp_extract_all(t, '\\p{L}'))::DOUBLE AS letters, " +
      "length(regexp_extract_all(t, '\\p{Latin}'))::DOUBLE AS nl, " +
      "length(regexp_extract_all(t, '\\p{Cyrillic}'))::DOUBLE AS nc, " +
      "length(regexp_extract_all(t, '\\p{Han}'))::DOUBLE AS nh, " +
      "length(regexp_extract_all(t, '\\p{Arabic}'))::DOUBLE AS na FROM t0), " +
      "f AS (SELECT doc_id, letters, nl / greatest(letters, 1.0) AS latin_frac, " +
      "nc / greatest(letters, 1.0) AS cyrillic_frac, nh / greatest(letters, 1.0) AS han_frac, " +
      "na / greatest(letters, 1.0) AS arabic_frac FROM c) " +
      s"SELECT doc_id, ${Seq("latin_frac", "cyrillic_frac", "han_frac", "arabic_frac")
        .map(n => s"${r6sql(n)} AS $n").mkString(", ")}, " +
      "CASE WHEN letters = 0 THEN 'und' " +
      "WHEN greatest(latin_frac, cyrillic_frac, han_frac, arabic_frac) = 0 THEN 'und' " +
      "WHEN latin_frac >= cyrillic_frac AND latin_frac >= han_frac AND latin_frac >= arabic_frac THEN 'latin' " +
      "WHEN cyrillic_frac >= han_frac AND cyrillic_frac >= arabic_frac THEN 'cyrillic' " +
      "WHEN han_frac >= arabic_frac THEN 'han' ELSE 'arabic' END AS dominant_script " +
      "FROM f ORDER BY doc_id")

  /** Deterministic mixture resampling: documents downsampled to a target language
    * mixture (en squeezed, minority langs kept) — rates derived from the corpus's
    * OWN per-lang counts, so the oracle recomputes the whole chain: counts →
    * c = min(n/w) → per-lang rate → per-row hash acceptance.
    */
  private val qResample = Gate((spark, dir) => {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val targets = Seq(("en", 0.1), ("de", 0.3), ("fr", 0.3), ("es", 0.2), ("zh", 0.1))
      .toDF("lang", "w")
    graft.data.Sampling.resampleToMixture(d, col("doc_id"), col("lang"),
        targets, "lang", "w")
      .orderBy("doc_id")
  }, oracleSql = {
    val frac = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE / 4503599627370496.0)"
    "WITH t(s, w) AS (VALUES ('en', 0.1), ('de', 0.3), ('fr', 0.3), ('es', 0.2), ('zh', 0.1)), " +
      "c AS (SELECT lang AS s, count(*)::DOUBLE AS n FROM documents WHERE lang IS NOT NULL GROUP BY 1), " +
      "j AS (SELECT c.s, c.n, t.w::DOUBLE AS w FROM c JOIN t ON c.s = t.s WHERE t.w > 0), " +
      "m AS (SELECT min(n / w) AS c FROM j), " +
      "r AS (SELECT j.s, m.c * j.w / j.n AS rate FROM j, m) " +
      "SELECT d.doc_id, d.lang FROM documents d LEFT JOIN r ON d.lang = r.s " +
      s"WHERE $frac < coalesce(r.rate, 0.0) ORDER BY d.doc_id"
  })

  /** Concat-and-chunk sequence packing over BPE-ish token counts: chunk index and
    * in-chunk starting offset for every document at a 1,000-token budget, corpus
    * order = doc_id. All-long output — the oracle comparison is exact, no rounding.
    */
  private val qPack = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("tokens"))
    // numRanges = 16 like q_global_cum: exercises cross-range offset arithmetic
    // without paying 256 near-empty range tasks at gate scale
    graft.data.Sampling.packByBudget(d, "doc_id", "tokens", budget = 1000L, numRanges = 16)
      .select(col("doc_id"), col("tokens"), col("pack_id"), col("pack_offset"))
      .orderBy("doc_id")
  }, oracleSql =
    """WITH t AS (SELECT doc_id, length(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS tokens FROM documents), """ +
      "c AS (SELECT doc_id, tokens, sum(tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t), " +
      "s AS (SELECT doc_id, tokens, (cum - tokens)::BIGINT AS start FROM c) " +
      "SELECT doc_id, tokens, start // 1000 AS pack_id, start - (start // 1000) * 1000 AS pack_offset " +
      "FROM s ORDER BY doc_id")

  /** Top-3 TF-IDF keywords per document over a quarter-corpus slice; scores are
    * r6-rounded BEFORE ranking on both sides so rank order is decided on
    * identical values.
    */
  private val qTfidf = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).where(col("doc_id") % 4 === 1)
    TextAnalysis.tfidfTopK(d, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")
  }, oracleSql =
    "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1), " +
      "w AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0)) AS word FROM d), " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2), " +
      "dfw AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM d WHERE doc_id IS NOT NULL), " +
      "s AS (SELECT tf.doc_id, tf.word, round(tf.tf::DOUBLE * ln(n.n / dfw.df::DOUBLE), 6) AS tfidf " +
      "FROM tf JOIN dfw USING (word), n), " +
      "r AS (SELECT doc_id, word, tfidf, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rank FROM s) " +
      "SELECT doc_id, word, tfidf, rank FROM r WHERE rank <= 3 ORDER BY doc_id, rank")

  /** Graded contamination: per-document fraction of distinct token-8-grams present
    * in the benchmark slice (doc_id % 50 = 37 — a different slice than the boolean
    * gates, so the fraction path certifies independently).
    */
  private val qDecontamFrac = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val bench = d.where(col("doc_id") % 50 === 37)
    Decontaminate.ngramOverlapFraction(d, "doc_id", "text", bench, "text", n = 8)
      .select(col("doc_id"), r6(col("overlap_frac")).as("overlap_frac"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS w FROM documents), " +
      "bg AS (SELECT DISTINCT g FROM (SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok WHERE doc_id % 50 = 37)), " +
      "dg AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM tok), " +
      "st AS (SELECT dg.doc_id, count(*) AS tot, count(bg.g) AS hit " +
      "FROM dg LEFT JOIN bg ON dg.g = bg.g GROUP BY 1) " +
      "SELECT t.doc_id, " +
      s"${r6sql("CASE WHEN st.tot IS NULL THEN 0.0 ELSE st.hit::DOUBLE / st.tot::DOUBLE END")} AS overlap_frac " +
      "FROM tok t LEFT JOIN st USING (doc_id) ORDER BY doc_id")

  /** Lee-et-al-style duplicated-span fraction at token-8-gram granularity, with a
    * shared sentence planted on every 10th doc so cross-doc span duplication is
    * guaranteed present; the oracle recomputes counts, the dup-gram set, and the
    * per-doc interval union in SQL.
    */
  private val qDupSpans = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again")))
          .otherwise(col("text")).as("text"))
    Dedup.dupSpanFraction(d, "doc_id", "text", n = 8)
      .select(col("doc_id"), r6(col("dup_span_frac")).as("dup_span_frac"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 " +
      "THEN text || ' the quick brown fox jumps over the lazy dog again' ELSE text END AS text FROM documents), " +
      "tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+') AS w FROM d), " +
      "g AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) - 1 AS pos, " +
      "unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)), " +
      "i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gr FROM tok), " +
      "dup AS (SELECT gr FROM (SELECT gr, count(*) AS c FROM g GROUP BY 1) WHERE c > 1), " +
      "dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON g.gr = dup.gr), " +
      "cov AS (SELECT doc_id, sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - pos) END) AS covered " +
      "FROM (SELECT doc_id, pos, lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM dp) GROUP BY 1) " +
      "SELECT tok.doc_id, " +
      s"${r6sql("CASE WHEN cov.covered IS NULL OR len(tok.w) <= 0 THEN 0.0 ELSE cov.covered::DOUBLE / len(tok.w)::DOUBLE END")} AS dup_span_frac " +
      "FROM tok LEFT JOIN cov USING (doc_id) ORDER BY doc_id")

  /** Host-graph PageRank over a deterministic 21-node graph derived from the
    * documents table: each doc contributes an edge source → 'src'||floor(md5-
    * fraction(doc_id)·21) — multi-edges weight naturally, and node 'src20' never
    * appears as a source, so the dangling-mass redistribution path is exercised.
    * `roundEachIter` keeps the 5 power iterations bit-comparable with the
    * oracle's unrolled-CTE recomputation (same association order per term).
    */
  private val qPageRank = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val edges = d.select(col("source").as("src"),
      concat(lit("src"), floor(graft.data.Sampling.hashFraction(col("doc_id")) * 21)
        .cast("int").cast("string")).as("dst"))
    graft.web.HostGraph.pageRank(edges, "src", "dst", iters = 5, roundEachIter = true,
        numPartitions = 8) // 21-node graph: default 256 would be all empty tasks
      .select(col("host"), r6(col("rank")).as("rank"))
      .orderBy("host")
  }, oracleSql = {
    val frac = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE / 4503599627370496.0)"
    def rr(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000"
    val iters = 5
    val sb = new StringBuilder
    sb.append("WITH e AS (SELECT source AS src, 'src' || CAST(floor(" + frac + " * 21) AS INT) AS dst " +
      "FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL), ")
    sb.append("w AS (SELECT src, dst, count(*)::DOUBLE AS w FROM e GROUP BY 1, 2), ")
    sb.append("od AS (SELECT src, sum(w) AS od FROM w GROUP BY 1), ")
    sb.append("t AS (SELECT w.src, w.dst, w.w / od.od AS p FROM w JOIN od USING (src)), ")
    sb.append("nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e), ")
    sb.append("n AS (SELECT count(*)::DOUBLE AS n FROM nodes), ")
    sb.append(s"r0 AS (SELECT host, ${rr("1.0::DOUBLE / n.n")} AS rank FROM nodes, n), ")
    for (k <- 1 to iters) {
      val p = s"r${k - 1}"
      sb.append(s"d$k AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM $p " +
        "WHERE host NOT IN (SELECT src FROM od)), ")
      sb.append(s"c$k AS (SELECT t.dst AS host, sum(t.p * r.rank) AS c " +
        s"FROM t JOIN $p r ON t.src = r.host GROUP BY 1), ")
      // EXACT association order of the engine: ((1-d)/n + d*dm/n) + d*coalesce(c)
      val e = "(1.0::DOUBLE - 0.85::DOUBLE) / n.n + 0.85::DOUBLE * dk.dm / n.n " +
        "+ 0.85::DOUBLE * coalesce(c.c, 0.0)"
      sb.append(s"r$k AS (SELECT nd.host, ${rr(e)} AS rank " +
        s"FROM nodes nd CROSS JOIN n CROSS JOIN d$k dk LEFT JOIN c$k c ON c.host = nd.host)" +
        (if (k < iters) ", " else " "))
    }
    sb.append(s"SELECT host, ${r6sql("rank")} AS rank FROM r$iters ORDER BY host")
    sb.toString
  })

  /** DSIR importance log-weights with target = English docs, 1024 hash buckets;
    * the oracle re-estimates both bucket distributions and rescores in SQL.
    */
  private val qDsir = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    graft.data.Sampling.dsirLogWeights(d, "doc_id", "text", col("lang") === "en",
        numBuckets = 1024)
      .select(col("doc_id"), r6(col("dsir_logw")).as("dsir_logw"))
      .orderBy("doc_id")
  }, oracleSql = {
    val wfrac = "(('0x' || substr(md5(w), 1, 13))::UBIGINT::DOUBLE / 4503599627370496.0)"
    "WITH tok AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt, " +
      "unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0)) AS w " +
      "FROM documents), " +
      s"tb AS (SELECT doc_id, tgt, CAST(floor($wfrac * 1024) AS INT) AS b FROM tok), " +
      "cnt AS (SELECT b, sum(tgt)::DOUBLE AS tc, count(*)::DOUBLE AS rc FROM tb GROUP BY 1), " +
      "tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM cnt), " +
      "lr AS (SELECT b, floor(ln(((tc + 1.0::DOUBLE) / (tt + 1024.0::DOUBLE)) / " +
      "((rc + 1.0::DOUBLE) / (rt + 1024.0::DOUBLE))) * 1000000 + 0.5) / 1000000 AS lr FROM cnt, tot), " +
      "pd AS (SELECT tb.doc_id, sum(lr.lr) AS s FROM tb JOIN lr USING (b) GROUP BY 1) " +
      "SELECT d.doc_id, " +
      s"${r6sql("coalesce(pd.s, 0.0)")} AS dsir_logw " +
      "FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"
  })

  /** DSIR's selection step: Gumbel top-50 over the q_dsir weights. The oracle
    * recomputes the full score pipeline plus the hash-derived Gumbel noise.
    */
  private val qDsirSelect = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val scored = graft.data.Sampling.dsirLogWeights(d, "doc_id", "text",
      col("lang") === "en", numBuckets = 1024)
    graft.data.Sampling.gumbelTopK(scored, "doc_id", "dsir_logw", k = 50)
      .select(col("doc_id"), r6(col("dsir_logw")).as("dsir_logw"),
        r6(col("gumbel_key")).as("gumbel_key"))
      .orderBy("doc_id")
  }, oracleSql = {
    val wfrac = "(('0x' || substr(md5(w), 1, 13))::UBIGINT::DOUBLE / 4503599627370496.0)"
    val idm = "('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE"
    "WITH tok AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt, " +
      "unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0)) AS w " +
      "FROM documents), " +
      s"tb AS (SELECT doc_id, tgt, CAST(floor($wfrac * 1024) AS INT) AS b FROM tok), " +
      "cnt AS (SELECT b, sum(tgt)::DOUBLE AS tc, count(*)::DOUBLE AS rc FROM tb GROUP BY 1), " +
      "tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM cnt), " +
      "lr AS (SELECT b, floor(ln(((tc + 1.0::DOUBLE) / (tt + 1024.0::DOUBLE)) / " +
      "((rc + 1.0::DOUBLE) / (rt + 1024.0::DOUBLE))) * 1000000 + 0.5) / 1000000 AS lr FROM cnt, tot), " +
      "pd AS (SELECT tb.doc_id, sum(lr.lr) AS s FROM tb JOIN lr USING (b) GROUP BY 1), " +
      "scored AS (SELECT d.doc_id, coalesce(pd.s, 0.0) AS logw, " +
      s"floor((coalesce(pd.s, 0.0) + floor(-ln(-ln((($idm) + 0.5) / 4503599627370496.0)) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS gkey " +
      "FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)), " +
      "top AS (SELECT * FROM scored ORDER BY gkey DESC NULLS LAST, doc_id ASC LIMIT 50) " +
      s"SELECT doc_id, ${r6sql("logw")} AS dsir_logw, ${r6sql("gkey")} AS gumbel_key " +
      "FROM top ORDER BY doc_id"
  })

  // ----------------------------------------------------------------------- registry

  val gates: Map[String, Gate] = Map(
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dup_clusters" -> qDupClusters,
    "q_dup_clusters_dist" -> qDupClustersDist, // same graph, distributed path forced
    "q_sample" -> qSample,
    "q_normalize" -> qNormalize,
    "q_domain_cap" -> qDomainCap,
    "q_word_counts" -> qWordCounts,
    "q_ngram_pairs" -> qNgramPairs,
    "q_minhash_pairs" -> qMinhashPairs, // banding must recover the full exact pair set here
    "q_ann_topk" -> qAnnTopK,
    "q_ann_ivf" -> qAnnIvf, // full-probe IVF must equal exact brute force
    "q_embed_dup" -> qEmbedDup,
    "q_semantic_pairs" -> qSemanticPairs, // identical vectors always share a cell
    "q_token_count" -> qTokenCount,
    "q_quality" -> qQuality,
    "q_langid" -> qLangId,
    "q_fingerprints" -> qFingerprints,
    "q_simhash_pairs" -> qSimhashPairs,
    "q_text_sim" -> qTextSim,
    "q_jaro_sim" -> qJaroSim,
    "q_repetition" -> qRepetition,
    "q_decontam" -> qDecontam,
    "q_decontam_ngram" -> qDecontamNgram,
    "q_decontam_join" -> qDecontamJoin,
    "q_line_dedup" -> qLineDedup,
    "q_keep_best" -> qKeepBest,
    "q_curation_chain" -> qCurationChain,
    "q_lm_quality" -> qLmQuality,
    "q_lm_buckets" -> qLmBuckets,
    "q_script_profile" -> qScriptProfile,
    "q_resample" -> qResample,
    "q_pack" -> qPack,
    "q_tfidf" -> qTfidf,
    "q_decontam_frac" -> qDecontamFrac,
    "q_dup_spans" -> qDupSpans,
    "q_pagerank" -> qPageRank,
    "q_dsir" -> qDsir,
    "q_dsir_select" -> qDsirSelect)
}
