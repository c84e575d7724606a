package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that contain evaluation-set
  * content, so test questions never leak into the training corpus.
  *
  * One path per semantic:
  *
  *  - [[flagContains]] — exact SUBSTRING match against a set of benchmark snippets,
  *    all snippets matched in one O(|text|) Aho–Corasick pass per document.
  *
  *  - [[flagNgramOverlap]] — token n-gram HASH overlap (the published-method shape:
  *    mark a document contaminated if any of its token n-grams appears in the
  *    benchmark; n=8..13 typical), as a distributed semi-join with no driver action
  *    and no broadcast. Robust to the snippet not being a verbatim substring
  *    (whitespace/punctuation differences collapse at tokenization), at the price
  *    of token-boundary granularity. [[ngramOverlapFraction]] is its graded twin.
  *
  * Both flags are null-safe: a null/empty benchmark flags nothing; a null document
  * text is flagged false (it cannot contain anything).
  */
object Decontaminate {

  /** Array of xxhash64 values of the document's token `n`-grams, over the same
    * lowercase letter/digit-run tokens as [[TextAnalysis.wordTokens]]. Empty array
    * when the document has fewer than `n` tokens.
    */
  def tokenNgramHashes(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    // r7: one codegen'd kernel pass (split + rolling UTF-8 gram hash) instead of
    // the transform/slice/concat_ws/xxhash64 array-HOF chain — bit-identical
    // hashes (same Java-regex split, same XXH64 seed 42 over the same bytes; see
    // graft.functions.TokenNgramHashes), no per-gram array slices. Spark's
    // `lower` stays outside the kernel so its collation semantics are untouched.
    graft.functions.hashfns.tokenNgramHashes(lower(text), n)
  }

  /** Add boolean `outCol`: does the document contain ANY benchmark snippet as an
    * exact substring?
    *
    * Collects the distinct snippet set to the driver ONCE (an EAGER action at
    * plan-assembly time — the same documented contract as `Ann.assign`'s centroid
    * collect and `PrefixAgg`'s quantile bounds), compiles it to one Aho–Corasick
    * automaton shipped once per executor, and scans each document in a single
    * O(|text|) pass regardless of snippet count.
    */
  def flagContains(docs: DataFrame, textCol: String, bench: DataFrame,
      snippetCol: String, outCol: String = "contaminated"): DataFrame = {
    val snips = bench
      .where(col(snippetCol).isNotNull && length(col(snippetCol)) > 0)
      .select(col(snippetCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    docs.withColumn(outCol,
      coalesce(graft.functions.textfns.multiContains(col(textCol), snips.toSeq), lit(false)))
  }

  /** Add boolean `outCol`: does any token `n`-gram of the document appear among the
    * benchmark texts' token `n`-grams?
    *
    * A distributed semi-join with no driver action and no broadcast, so the
    * benchmark gram set may be any size: the corpus explodes to distinct
    * `(doc id, gram hash)` pairs (a repetitive page costs its distinct grams only),
    * left-semi-joins the distinct benchmark grams on the hash (both sides shuffle
    * on the gram key; AQE's skew-join split absorbs a corpus-hot phrase gram), and
    * the surviving contaminated doc ids — a small set by construction — re-attach
    * with one left join that AQE turns into a broadcast in practice.
    *
    * The id column carries the flag back: a row with a NULL id cannot anchor the
    * join and is flagged false, whatever its text — give docs real ids before
    * decontaminating (house policy of [[Dedup.dedupLines]]).
    */
  def flagNgramOverlap(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8,
      outCol: String = "contaminated"): DataFrame = {
    val (docGrams, grams) = gramPairs(docs, idCol, textCol, bench, benchTextCol, n)
    val hits = docGrams.join(grams, Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(hits.withColumn("__graft_hit", lit(true)), Seq(idCol), "left")
      .withColumn(outCol, coalesce(col("__graft_hit"), lit(false)))
      .drop("__graft_hit")
  }

  /** Add double `outCol`: the FRACTION of the document's distinct token
    * `n`-gram hashes that appear in the benchmark gram set — the graded
    * complement of [[flagNgramOverlap]]'s boolean, for threshold policies
    * ("drop above 10% overlap, flag above 1%") and contamination dashboards.
    * A document with no `n`-grams at all (fewer than `n` tokens, or a null
    * text/id) can contain nothing and scores 0.0.
    *
    * Same shape as [[flagNgramOverlap]]: one shuffle left join of the distinct
    * `(id, gram-hash)` pairs against the distinct benchmark grams marks hits, one
    * map-side-combinable groupBy reduces to `(id, total, hits)`, and one small
    * join re-attaches the fraction.
    */
  def ngramOverlapFraction(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8,
      outCol: String = "overlap_frac"): DataFrame = {
    val (docGrams, grams) = gramPairs(docs, idCol, textCol, bench, benchTextCol, n)
    val stats = docGrams
      .join(grams.withColumn("__m", lit(1)), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__tot"), count(col("__m")).as("__hit"))
    docs.join(stats, Seq(idCol), "left")
      .withColumn(outCol,
        when(col("__tot").isNull, lit(0.0))
          .otherwise(col("__hit").cast("double") / col("__tot")))
      .drop("__tot", "__hit")
  }

  /** The corpus's distinct `(id, __g)` gram-hash pairs and the benchmark's
    * distinct `__g` gram hashes.
    */
  private def gramPairs(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int): (DataFrame, DataFrame) = {
    val docGrams = docs
      .select(col(idCol), explode(array_distinct(tokenNgramHashes(col(textCol), n))).as("__g"))
    val grams = bench
      .select(explode(tokenNgramHashes(col(benchTextCol), n)).as("__g")).distinct()
    (docGrams, grams)
  }
}
