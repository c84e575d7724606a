package graft.data

import graft.functions.{textfns, TrigramLmModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Language-model quality scoring for corpus curation — the CCNet-style screen
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data", LREC 2020 — a public paper): score each document by its
  * log-likelihood under a smoothed character-trigram model trained on the corpus
  * (or a trusted reference slice of it); low scores flag gibberish, boilerplate
  * soup, encoding damage, and wrong-language residue that rule-based signals miss.
  *
  * Two phases, both Spark-first:
  *
  *  - [[trainTrigramLm]] — ONE aggregation job over the training frame: documents
  *    are normalized (lowercase, whitespace runs collapsed — plain Spark SQL
  *    functions so the DuckDB oracle can mirror them verbatim), exploded to
  *    code-point trigrams, counted with map-side partial aggregation, and the top
  *    `vocab` trigrams (count desc, gram asc — a DETERMINISTIC tie-break) are
  *    collected to the driver (8+8 bytes per entry; 2^16 vocab ≈ 1 MB — the same
  *    documented plan-time-collect contract as `Ann.assign` centroids and the
  *    Aho–Corasick snippet compile). Probabilities are add-alpha smoothed over
  *    the kept vocabulary: p(t) = (c_t + α) / (N + α·(K + 1)) with one shared
  *    unseen mass α / (N + α·(K + 1)), where N counts ALL training trigrams and
  *    K the kept ones. At 100-TB scale train on a deterministic hash-sample
  *    (`docs.where(pmod(xxhash64(id), 1000) === 0)`) — the model converges long
  *    before the corpus does — and score everything.
  *
  *  - [[scoreTrigramLm]] — pure projection: the model ships once per executor as
  *    a codegen reference object (sorted packed-long keys + parallel log-prob
  *    array, a `KernelCall` object literal) and each document is scored in a
  *    single code-point pass, O(log K) per trigram. No shuffle, no explode, no
  *    join: curation's scan-speed path. Documents with < 3 code points (or null
  *    text) score null.
  *
  * Trigrams are CODE-POINT trigrams of the normalized text — the same unit as
  * Spark's `substring` and DuckDB's `substr`, so the oracle reproduces the
  * training set and the scores exactly (gate q_lm_quality).
  */
object LmQuality {

  /** The shared normalization: lowercase, collapse whitespace runs to one space.
    * The whitespace class is EXPLICIT — `[ \t\n\x0B\f\r]` — not `\s`, because Java
    * regex `\s` includes U+000B while DuckDB/RE2's does not; both engines parse
    * the explicit class identically, so engine and oracle tokenize the same
    * trigram stream on any corpus. Mirrored verbatim in the q_lm_quality oracle
    * as `regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')`. (Residual
    * documented caveat: `lower()` itself can differ between Spark and DuckDB on
    * exotic non-ASCII case mappings.)
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "[ \\t\\n\\x0B\\f\\r]+", " ")

  /** Train a smoothed trigram model — one aggregation job + one bounded driver
    * collect (count desc, gram asc, `vocab` rows). Trigrams are counted as PACKED
    * LONGS ([[graft.functions.PackedTrigrams]]): one code-point pass per document
    * instead of one 3-char string allocation per trigram, and the shuffle/agg keys
    * are fixed-width. UTF-8 byte order equals packed order for 3-code-point grams,
    * so the (count desc, gram asc) cut — and the oracle that mirrors it on gram
    * STRINGS — is unchanged (measured 97 s → see BENCH/BASELINE.md at 1M docs).
    */
  def trainTrigramLm(docs: DataFrame, textCol: String,
      vocab: Int = 65536, alpha: Double = 0.4): TrigramLmModel = {
    require(vocab > 0, s"vocab must be > 0, got $vocab")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    // persisted across the two plan-time jobs (top-k cut + total-N): the exploded
    // corpus is counted ONCE, not re-scanned per job
    val counts = docs
      .select(explode(textfns.packedTrigrams(normalize(col(textCol)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = counts.orderBy(col("c").desc, col("g").asc).limit(vocab).collect()
    // N = ALL training trigrams (kept or not): the unseen mass must be measured
    // against the true total, not the truncated vocabulary's
    val n = Option(counts.agg(sum(col("c"))).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    counts.unpersist(blocking = false)
    val k = top.length
    val denom = n + alpha * (k + 1)
    val entries = top.map { r =>
      (r.getLong(0), math.log((r.getLong(1) + alpha) / denom))
    }.sortBy(_._1)
    new TrigramLmModel(entries.map(_._1), entries.map(_._2), math.log(alpha / denom))
  }

  /** Attach `outCol`: mean trigram log-probability of the normalized text under
    * `model` (null when the text has < 3 code points). A pure codegen'd
    * projection — runs at scan speed next to the other quality signals.
    */
  def scoreTrigramLm(docs: DataFrame, textCol: String, model: TrigramLmModel,
      outCol: String = "lm_logprob"): DataFrame =
    docs.withColumn(outCol, textfns.trigramLogProb(normalize(col(textCol)), model))

  /** CCNet's head/middle/tail split: bucket documents by their LM score quantiles
    * (`lo`/`hi` cut points, thirds by default) — "head" is the best-scoring third
    * (highest mean log-prob = lowest perplexity), "tail" the worst, matching the
    * paper's convention. Null scores (unscorable docs) get a null bucket.
    *
    * The two cut points come from ONE exact-interpolated-percentile aggregation
    * over `scoreCol` and land on the driver as two doubles — `percentile` buffers
    * the group's values, so at corpus scale pass a deterministic hash-SAMPLE of
    * the scored frame as `cutoffSource` (the same documented sample contract as
    * [[trainTrigramLm]]; quantiles of a 10⁻³ sample of 10¹² docs are exact to
    * ~4 decimal places) and let the full frame be bucketed by the sampled cuts.
    * Bucketing itself is a pure projection — no shuffle, no second pass.
    */
  def perplexityBuckets(scored: DataFrame, scoreCol: String,
      bucketCol: String = "lm_bucket", lo: Double = 1.0 / 3, hi: Double = 2.0 / 3,
      cutoffSource: Option[DataFrame] = None): DataFrame = {
    require(lo > 0 && hi < 1 && lo <= hi, s"need 0 < lo <= hi < 1, got ($lo, $hi)")
    val src = cutoffSource.getOrElse(scored)
    val cuts = src.where(col(scoreCol).isNotNull)
      .agg(percentile(col(scoreCol).cast("double"), array(lit(lo), lit(hi))).as("c"))
      .head.getSeq[Double](0)
    if (cuts == null || cuts.isEmpty) // nothing scorable anywhere: every bucket null
      return scored.withColumn(bucketCol, lit(null).cast("string"))
    val (cLo, cHi) = (cuts(0), cuts(1))
    scored.withColumn(bucketCol,
      when(col(scoreCol).isNull, lit(null).cast("string"))
        .when(col(scoreCol).cast("double") <= cLo, lit("tail"))
        .when(col(scoreCol).cast("double") <= cHi, lit("middle"))
        .otherwise(lit("head")))
  }
}
