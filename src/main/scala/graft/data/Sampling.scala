package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `df.sample()` draws from an
  * RNG seeded per partition, so results change under repartitioning and can't be
  * reproduced by another engine; these samplers decide per ROW from a hash of a key,
  * which makes them reproducible across runs, engines (DuckDB oracle in the gate),
  * repartitions, and incremental re-runs — the property that matters when a 100-TB
  * corpus is sampled in resumable pieces.
  */
object Sampling {

  /** Uniform [0, 1) decided by md5 of the key: the first 13 hex digits (52 bits,
    * exact in a double) over 2^52. Same formula is expressible in any engine with md5
    * (DuckDB: `('0x' || substr(md5(k::VARCHAR), 1, 13))::UBIGINT::DOUBLE / 2^52`).
    * NULL keys hash to NULL — the samplers below totalize that (see `keyFraction`).
    */
  def hashFraction(key: Column): Column =
    // one codegen'd digest per row — bit-identical to the portable formula
    // conv(substring(md5(key::string), 1, 13), 16, 10)::DOUBLE / 2^52 (the r7
    // kernel swap; see graft.functions.HashKernels.md5Frac52U8 for the equivalence argument)
    graft.functions.hashfns.md5Fraction(key.cast("string"))

  /** Sampling decision made total. A raw `hashFraction(key) < rate` predicate is
    * null for null keys, so the filter would silently drop them at EVERY rate
    * including 1.0. A null key counts as fraction 0.0 instead (kept at any rate > 0,
    * dropped only at rate 0): the key identifies the ROW, and dropping rows for having
    * a null id is data loss. NOTE for cross-engine reproduction (the DuckDB oracle
    * recipe): this is `coalesce(frac, 0.0) < rate` — the other engine must apply the
    * same coalesce.
    */
  private def keyFraction(key: Column): Column = coalesce(hashFraction(key), lit(0.0))

  /** Keep ~`rate` of rows, decided by the key's hash. Deterministic: the same key is
    * always in or always out, so joins between independently-sampled tables keyed the
    * same way stay consistent. NULL-key rows are kept at any rate > 0 (`keyFraction`).
    */
  def byHash(df: DataFrame, key: Column, rate: Double): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.where(keyFraction(key) < rate)
  }

  /** Per-stratum rates (e.g. downsample "en" to 5%, keep the rest): rows whose
    * stratum is missing from `rates` use `defaultRate`. NULL-key rows are kept
    * whenever their stratum's rate is > 0.
    */
  def stratified(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    (rates.values ++ Seq(defaultRate)).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rates must be in [0,1], got $r"))
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(stratum === s, r).otherwise(acc)
    }
    df.where(keyFraction(key) < rateCol)
  }

  /** Per-group cap: keep the top `k` rows of each group by `order` (desc), ties
    * broken by `tieBreak` (asc) for determinism — "at most N pages per domain", the
    * standard anti-domination rule in corpus curation. One shuffle on the group key.
    */
  def capPerGroup(df: DataFrame, group: Column, order: Column, tieBreak: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(order.desc, tieBreak.asc)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Downsample-only resampling of the corpus to a TARGET stratum mixture — the
    * "adjust the language/domain balance of the training set" step (the mixture-
    * reweighting idea of e.g. DoReMi, arXiv:2305.10429, applied as deterministic
    * rejection sampling). Given target weights `w_s` per stratum, each stratum is
    * kept at rate `p_s = c · w_s / n_s` with `c = min_s(n_s / w_s)` — the LARGEST
    * scaling under which no stratum needs upsampling, so the binding (most
    * under-represented relative to its target) stratum keeps every row and the
    * output mixture is proportional to `w` in expectation. Decisions are
    * per-row hash-deterministic ([[byHash]] semantics), so re-runs, engines, and
    * incremental re-curations agree row-for-row.
    *
    * Rows whose stratum is ABSENT from `targets` (or has weight ≤ 0, or a null
    * stratum) have target share zero and are dropped — resampling to a mixture
    * that excludes a stratum excludes its rows. NULL sampling keys are kept within
    * kept strata.
    *
    * Scale shape: one map-side-combinable groupBy on the stratum for counts
    * (output cardinality = #strata), an inner join of that small frame with
    * `targets`, ONE scalar driver action for `c` (an `agg(min(...))` — bounded by
    * construction), then a broadcast-or-shuffle join of the per-stratum rate back
    * onto the corpus (AQE picks; #strata ≪ corpus either way). The corpus itself
    * is never collected and shuffles only for the rate join — and that join is a
    * broadcast when the stratum table fits, i.e. no corpus shuffle at all.
    *
    * @param targets frame of `(stratumCol, weightCol)` — relative weights, need
    *        not sum to 1; duplicate strata must not appear (first match would be
    *        nondeterministic — enforced with a distinct-count require).
    */
  def resampleToMixture(df: DataFrame, key: Column, stratum: Column,
      targets: DataFrame, stratumCol: String, weightCol: String): DataFrame = {
    val t = targets.select(col(stratumCol).as("__s"),
        col(weightCol).cast("double").as("__w"))
      .where(col("__s").isNotNull && col("__w") > 0.0)
    val counts = df.groupBy(stratum.as("__s")).agg(count(lit(1)).cast("double").as("__n"))
      .where(col("__s").isNotNull)
    val joined = counts.join(t, Seq("__s")).persist()
    try {
      // c = min(n/w): one scalar to the driver (bounded — one row per stratum
      // reduced to a single double). Duplicate target strata would make the rate
      // join nondeterministic; detect via count vs distinct-count on the joined frame.
      val row = joined.agg(min(col("__n") / col("__w")).as("c"),
        count(lit(1)).as("rows"), countDistinct(col("__s")).as("strata")).head()
      if (row.getLong(1) != row.getLong(2))
        throw new IllegalArgumentException("targets has duplicate stratum rows")
      if (row.isNullAt(0)) return df.where(lit(false)) // no stratum meets a positive target
      val c = row.getDouble(0)
      // rate_s = c * w_s / n_s ≤ 1 by construction of c (exact same arithmetic
      // shape — literal-times-column divided by column — as the DuckDB oracle)
      val rates = joined.select(col("__s"), (lit(c) * col("__w") / col("__n")).as("__rate"))
      df.join(rates, stratum === col("__s"), "left")
        .where(keyFraction(key) < coalesce(col("__rate"), lit(0.0)))
        .drop("__s", "__rate")
    } finally joined.unpersist()
  }

  /** Concat-and-chunk sequence packing — the LLM-pretraining step that assigns
    * every document to the fixed-size training chunk its FIRST token lands in
    * when the corpus is concatenated in `orderCol` order and split every `budget`
    * tokens. Emits `packCol` (the chunk index, 0-based) and `offsetCol` (the
    * document's starting token offset within that chunk); a document longer than
    * the remaining chunk space simply straddles into subsequent chunks, exactly
    * as the concatenated token stream does.
    *
    * Scale shape: the global running token sum rides [[graft.web.PrefixAgg]]'s
    * two-level prefix scan — NO single-partition window over the corpus (the one
    * construct that cannot survive a scale-up); everything after the prefix sum
    * is a pure projection. Token counts are integers, so the double-typed prefix
    * sums are EXACT below 2^53 total tokens (≈9·10¹⁵ — beyond any corpus) and
    * order-of-combination does not matter.
    *
    * Null `tokensCol` values count as 0 tokens (the row occupies a position but
    * no space); `orderCol` must be a unique total order (document ids).
    */
  def packByBudget(df: DataFrame, orderCol: String, tokensCol: String, budget: Long,
      packCol: String = "pack_id", offsetCol: String = "pack_offset",
      numRanges: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    import graft.web.PrefixAgg
    import graft.web.PrefixAgg.{Op, RunningSpec}
    val tok = "__graft_pack_tok"
    val cum = "__graft_pack_cum"
    val withTok = df.withColumn(tok, coalesce(col(tokensCol).cast("double"), lit(0.0)))
    PrefixAgg.running(withTok, Seq(orderCol), Seq(RunningSpec(Op.Sum, tok, cum)),
        numRanges = numRanges)
      .withColumn("__start", (coalesce(col(cum), lit(0.0)) - col(tok)).cast("long"))
      .withColumn(packCol, expr(s"__start div ${budget}L"))
      .withColumn(offsetCol, col("__start") - col(packCol) * budget)
      .drop(tok, cum, "__start")
  }

  /** DSIR-style importance log-weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", arXiv:2302.03169): score every document by
    * how target-like its hashed word-feature distribution is,
    *
    *   logw(doc) = Σ_{token t ∈ doc} ln( p̂_target(bucket(t)) / p̂_raw(bucket(t)) )
    *
    * with add-`smoothing` estimated bucket distributions (target = rows matching
    * `targetPred`; raw = ALL rows) over `numBuckets` hash buckets. Resampling is
    * then a separate policy choice (top-k by weight, or Gumbel top-k) — this
    * operator produces the score, the expensive distributed part.
    *
    * Scale shape: token bucketing is a pure projection ([[hashFraction]] of the
    * word — deterministic and engine-portable, unlike a seeded murmur); the two
    * distributions come from ONE groupBy over ≤`numBuckets` keys with map-side
    * partial aggregation; the bucket→log-ratio table (≤`numBuckets` rows) joins
    * back via broadcast; the per-doc sum is one groupBy(id). Nothing driver-side,
    * no step grows with corpus size beyond the token explode every bag-of-words
    * operator pays.
    *
    * Cross-engine exactness: `numBuckets` must be a power of two ≤ 2^52 so
    * `floor(hashFraction(w)·B)` is exact in doubles; each bucket's log-ratio is
    * floored to 6 decimals BEFORE the per-doc sum, so another engine (the DuckDB
    * oracle) summing identical rounded terms in any order lands within one ULP —
    * round the final sum to compare. Docs with no tokens (or null text) score 0.
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, numBuckets: Int = 1024, smoothing: Double = 1.0,
      weightOut: String = "dsir_logw"): DataFrame = {
    require(numBuckets >= 2 && (numBuckets & (numBuckets - 1)) == 0,
      s"numBuckets must be a power of two >= 2, got $numBuckets")
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val b = numBuckets.toDouble
    import graft.functions.rounding.r6

    val toks = df
      .select(col(idCol), targetPred.as("__tgt"),
        explode(TextAnalysis.wordTokens(col(textCol))).as("__w"))
      .withColumn("__b", floor(hashFraction(col("__w")) * b).cast("int"))
      .drop("__w")
    val counts = toks.groupBy("__b").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tc"),
      count(lit(1)).as("__rc"))
    // totals ride a global window over `counts` — bounded at ≤ numBuckets rows by
    // construction, so the single-partition window is safe at any corpus size.
    // The r6 chain computed them as a separate agg + crossJoin(broadcast(totals)),
    // which made the nested broadcast builds run the token explode THREE times
    // per query (totals build, logRatio build, per-doc pass — guide §2.4); this
    // shape runs it twice, the DSIR estimate/score minimum. Long sums are exact,
    // so the window-vs-agg totals are bit-identical.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val logRatio = counts
      .withColumn("__tt", sum("__tc").over(wAll))
      .withColumn("__rt", sum("__rc").over(wAll))
      .select(col("__b"), r6(
        log(((col("__tc") + smoothing) / (col("__tt") + smoothing * b)) /
            ((col("__rc") + smoothing) / (col("__rt") + smoothing * b)))).as("__lr"))
    val perDoc = toks.join(broadcast(logRatio), Seq("__b"))
      .groupBy(col(idCol)).agg(sum("__lr").as("__sum"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__sum"), lit(0.0)).as(weightOut))
  }

  /** The selection step DSIR pairs with [[dsirLogWeights]]: Gumbel top-k sampling
    * without replacement — keep the k rows maximizing `logw + Gumbel(u)`, which
    * draws a k-subset with probability proportional to the softmax of the weights
    * (Vieira 2014's Gumbel-max trick, applied top-k). The Gumbel variate is
    * derived from the row's own hash ([[hashFraction]] shifted to the bin center,
    * `u = (m + 0.5)/2^52`, so u ∈ (0,1) and no log(0)), which keeps selection
    * deterministic across runs, engines, and repartitions — same property as
    * every sampler here; the noise AND the final key are floored to 6 decimals,
    * so another engine's libm (and any summation order behind `logwCol`) agrees
    * bit-for-bit on the sort key and ties resolve by the id tie-break
    * identically everywhere.
    *
    * Scale shape: pure projection + global top-k, which Spark executes as
    * per-partition top-k merged on the driver (TakeOrdered) — k rows to the
    * driver, no global sort shuffle. Ties (equal keys) break by id ascending.
    * Null ids or null weights sort last (never selected while ≥k real rows
    * qualify).
    */
  def gumbelTopK(df: DataFrame, idCol: String, logwCol: String, k: Int,
      keyOut: String = "gumbel_key"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import graft.functions.rounding.r6
    // u = (m + 0.5)/2^52 == hashFraction + 2^-53 EXACTLY ((2m+1)/2^53 with
    // 2m+1 < 2^53 — every term representable), so the hash contract lives in
    // one place ([[hashFraction]]) and this stays the bin-center shift
    val u = hashFraction(col(idCol)) + lit(0.5 / 4503599627370496.0) // + 2^-53
    val gumbel = r6(-log(-log(u)))
    // the SORT KEY itself is r6-floored: logw is a float SUM whose last ULP
    // depends on aggregation order, so an unrounded key could order two
    // nominally-tied rows differently across engines/repartitions right at the
    // k boundary; on the 1e-6 grid ties are exact and the id tie-break decides
    df.withColumn(keyOut, r6(col(logwCol) + gumbel))
      .orderBy(col(keyOut).desc_nulls_last, col(idCol).asc_nulls_last)
      .limit(k)
  }
}
