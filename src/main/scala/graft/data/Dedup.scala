package graft.data

import graft.functions.{hashfns, textfns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for web-text corpora. Every method is shuffle-bounded by
  * design: exact dedup is one hash-groupBy; the near-dup methods follow the standard
  * candidate-generation → bucket-join → exact-verify shape, so the quadratic step only
  * ever runs within a bucket, never across the corpus.
  */
object Dedup {

  /** Exact dedup on md5(text): marks each row with its duplicate-group id and whether
    * it is the keeper (min id wins). One shuffle on the 128-bit hash — at 100 TB this
    * is the canonical map-side-combinable pattern.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__h"))
    df.withColumn("__h", md5(col(textCol)))
      .withColumn("dup_group_size", count(lit(1)).over(w))
      .withColumn("dup_keeper_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("dup_keeper_id"))
      .withColumnRenamed("__h", "text_md5")
  }

  /** Incremental exact dedup — curate a NEW crawl batch against an already-kept
    * corpus, the rolling workflow of a production pipeline (each Common-Crawl dump
    * dedups against everything kept before it). Drops batch rows whose text hash
    * already exists in the corpus, then exact-dedups the batch internally (min-id
    * keeper). `corpusHashes` needs ONLY the hash column — the compact artifact a
    * rolling pipeline maintains between crawls (16 bytes/doc; 10¹² docs ≈ 16 TB,
    * itself a partitioned table, never a broadcast).
    *
    * Scale shape: one left-anti shuffle join of the batch against the corpus
    * hashes on the 128-bit key (AQE broadcasts when the corpus side is small) +
    * one map-side-combinable min-id groupBy and join-back for the batch-internal
    * keeper — the same skew-proof shape as [[keepBest]], no window over the hash.
    * Rows with a null `textCol` (cannot hash) or a null `idCol` (cannot anchor
    * keeper identity) pass through unchanged — the house null policy: never
    * silently merge or drop unidentifiable rows.
    */
  def dedupIncremental(batch: DataFrame, idCol: String, textCol: String,
      corpusHashes: DataFrame, hashCol: String): DataFrame = {
    val hashable = batch.where(col(textCol).isNotNull && col(idCol).isNotNull)
    val hashed = hashable.withColumn("__h", md5(col(textCol)))
    val fresh = hashed.join(
      corpusHashes.select(col(hashCol).as("__h")).where(col("__h").isNotNull).distinct(),
      Seq("__h"), "left_anti")
    val keeper = fresh.groupBy(col("__h")).agg(min(col(idCol)).as("__keep"))
    fresh.join(keeper, Seq("__h"))
      .where(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
      .unionByName(batch.where(col(textCol).isNull || col(idCol).isNull))
  }

  /** Keeper selection for duplicate groups: keep the highest-`scoreCol` row per
    * `groupCol` (ties → smallest `idCol`; null scores lose to any non-null score).
    * The quality-aware complement of [[exact]]'s min-id keeper: cluster first
    * ([[exact]]'s `text_md5`, or [[dupClusters]]' `cluster_id`), score with e.g.
    * [[TextAnalysis.qualityScore]], then keep the best copy of each family.
    *
    * Scale shape: one map-side-combinable groupBy over the group key (min of a
    * 2-field struct — skew-proof partial aggregation even when one group holds 10⁹
    * copies) + one join back on the key, AQE-skew-splittable. Rows with a NULL
    * group key are their own singleton family and pass through unchanged — as do
    * rows with a NULL id (the house policy of [[dupClusters]]/[[dedupLines]]: a
    * null id cannot anchor keeper identity, and `id === keeper_id` would
    * otherwise silently DROP such rows).
    */
  def keepBest(df: DataFrame, groupCol: String, idCol: String, scoreCol: String): DataFrame = {
    val grouped = df.where(col(groupCol).isNotNull && col(idCol).isNotNull)
    // min(struct(-score, id)): max score first, ties to the smallest id; a null
    // score maps to +Inf so it can never beat a scored copy
    val best = grouped.groupBy(col(groupCol)).agg(
      min(struct(
        coalesce(-col(scoreCol).cast("double"), lit(Double.PositiveInfinity)).as("ns"),
        col(idCol).as("bid"))).as("__best"))
    grouped.join(best, Seq(groupCol))
      .where(col(idCol) === col("__best.bid"))
      .drop("__best")
      .unionByName(df.where(col(groupCol).isNull || col(idCol).isNull))
  }

  /** Cross-document LINE dedup — the boilerplate-removal pass of a web-text
    * pipeline: a line repeated across the corpus (nav menus, cookie banners, footer
    * legalese) is kept only at its FIRST occurrence (min `(id, position)`), every
    * other copy is dropped, and the surviving lines are reassembled in order.
    *
    * Lines shorter than `minLineChars` after trimming are exempt (never deduped):
    * short lines ("Home", "1.", "") repeat naturally and carry no boilerplate
    * signal. Dedup keys lines WITHIN `scope` — `lit(0)` (default) dedups corpus-wide;
    * pass e.g. the domain column to drop only per-site boilerplate.
    *
    * Scale shape: explode to lines; aggregate `(count, first occurrence)` per
    * `(xxhash64(scope, line), line length)` key with map-side partials (count/min
    * combine, so a line repeated 10⁹ times — the boilerplate hot key — reduces
    * per-mapper before the shuffle); keep only keys that actually have duplicates
    * and join that (much smaller) decision set back, where AQE's skew-join
    * splitting absorbs the hot keys a window over the same key could not. The
    * decision join emits ONLY the dropped `(id, pos)` occurrences — a tiny set by
    * construction (repeated-line copies minus keepers) — which is aggregated per
    * doc and joined back to the ORIGINAL frame; dropped positions are removed with
    * one indexed-HOF filter, so the corpus is never re-exploded and never
    * re-grouped (the round-4 formulation's `groupBy(id)` rebuild of all exploded
    * lines moved the whole corpus through a second shuffle — measured 1.7× slower
    * at 30M lines, see BENCH/BASELINE.md round 5). Exempt lines bypass the key
    * path entirely (they would otherwise form one giant null partition). Nothing
    * quadratic, no driver collection. The 64-bit-hash+length key mirrors what
    * published pipelines shuffle; a corpus with ~10⁹ distinct lines has a ~10⁻²
    * chance of ONE colliding pair corpus-wide (birthday bound), which would drop
    * one innocent line — acceptable for curation; swap the key for the line
    * itself if exactness ever outranks shuffle width.
    *
    * @return the input frame with `textCol` rewritten IN PLACE — every other
    *         column passes through untouched (so pipelines can thread cluster
    *         ids/scores through without re-joining afterwards); every input row
    *         is preserved (a document whose every line was removed keeps an
    *         empty string; a null text stays null). Rows with a NULL id pass through
    *         UNTOUCHED: a null id cannot anchor the `(id, pos)` keeper identity
    *         (and two null-id docs would merge on reassembly), so — like
    *         [[dupClusters]]'s null-edge policy — they are exempt rather than
    *         silently corrupted. Lines split on `\r?\n` (CRLF web text must dedup
    *         against LF copies of the same boilerplate); the `\r` never reaches
    *         the hash key or the rebuilt text.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minLineChars: Int = 10, scope: Column = lit(0)): DataFrame = {
    require(minLineChars >= 0, s"minLineChars must be >= 0, got $minLineChars")
    val withId = docs.where(col(idCol).isNotNull)
    val eligible = withId
      .select(col(idCol), scope.as("__scope"),
        posexplode(split(col(textCol), "\r?\n")).as(Seq("__pos", "__line")))
      .select(col(idCol), col("__pos"), col("__scope"), trim(col("__line")).as("__t"))
      .where(length(col("__t")) >= minLineChars)
      .select(col(idCol), col("__pos"),
        struct(xxhash64(col("__scope"), col("__t")).as("__xh"),
          length(col("__t")).as("__len")).as("__h"))
    // only keys with duplicates need a decision row: the join's build side shrinks
    // to the duplicated-line set, and the min-(id,pos) "first occurrence" is the
    // deterministic keeper ordering
    val dupKeys = eligible.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cnt"), min(struct(col(idCol), col("__pos"))).as("__first"))
      .where(col("__cnt") > 1)
      .select(col("__h"), col("__first"))
    // the dropped set: non-keeper occurrences of duplicated lines — tiny by
    // construction, and the ONLY thing that shuffles from here on
    val dropped = eligible.join(dupKeys, Seq("__h"))
      .where(struct(col(idCol), col("__pos")) =!= col("__first"))
      .groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__drop"))
    // rewrite the ORIGINAL frame: drop flagged positions with one indexed-HOF
    // filter; docs without drops (left join miss) just re-normalize line endings,
    // matching the explode/rebuild formulation's CRLF→LF output byte-for-byte.
    // All non-text columns pass through in place.
    withId
      .join(dropped, Seq(idCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(array_join(filter(split(col(textCol), "\r?\n"),
            (_, i) => !coalesce(array_contains(col("__drop"), i), lit(false))), "\n")))
      .drop("__drop")
      .unionByName(docs.where(col(idCol).isNull))
  }

  /** Distinct character shingles of length k — one codegen'd kernel pass (r7:
    * replaces the array_distinct(transform(sequence(substring…))) HOF chain;
    * same grams in the same first-occurrence order, but a text shorter than k
    * yields the EMPTY array instead of the HOF chain's `[null]` singleton —
    * identical after the null filter every consumer applies).
    */
  def shingles(text: Column, k: Int): Column = textfns.distinctShingles(text, k)

  /** MinHash signature: for each of `numHashes` seeds, the min over shingle hashes.
    * Single-pass native expression (see [[graft.functions.hashfns.minhashSignature]]).
    */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    hashfns.minhashSignature(text, k, numHashes)

  /** Per-document duplicated-SPAN fraction — the corpus-level exact-substring
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499), at token-`n`-gram granularity
    * instead of a distributed suffix array: the fraction of a document's token
    * positions covered by some `n`-gram that occurs MORE THAN ONCE in the whole
    * corpus (elsewhere or repeated within the document). The standard policy is
    * `where(dup_span_frac < cut)` or routing high-fraction docs to span removal.
    *
    * Scale shape: explode to positioned gram hashes; ONE map-side-combinable
    * groupBy counts gram occurrences; only grams with count > 1 survive the
    * filter (rare by construction), so the decision semi-join back onto the
    * positioned grams carries a small build side; covered-position arithmetic is
    * the classic sorted-interval union — a per-document window over that doc's
    * OWN dup-gram positions only (`lead(pos)` caps each gram's contribution at
    * the gap to the next), never a corpus-wide sort. Documents with fewer than
    * `n` tokens (or null text/id) have no spans and score 0.0.
    */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String, n: Int = 50,
      outCol: String = "dup_span_frac"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = TextAnalysis.wordTokens(col(textCol))
    // r7: same single-pass gram-hash kernel as Decontaminate.tokenNgramHashes
    // (bit-identical to the transform/slice/concat_ws/xxhash64 chain it replaces)
    val grams = df.select(col(idCol),
        posexplode(Decontaminate.tokenNgramHashes(col(textCol), n)))
      .toDF(idCol, "__pos", "__g")
    val dupG = grams.groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select(col("__g"))
    val dupPos = grams.join(dupG, Seq("__g"), "left_semi")
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val covered = dupPos
      .withColumn("__next", lead(col("__pos"), 1).over(win))
      .withColumn("__cov",
        when(col("__next").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), col("__next") - col("__pos"))))
      .groupBy(col(idCol)).agg(sum(col("__cov")).as("__covered"))
    df.withColumn("__ntok", size(toks).cast("long"))
      .join(covered, Seq(idCol), "left")
      .withColumn(outCol,
        when(col("__covered").isNull || col("__ntok") <= 0, lit(0.0))
          .otherwise(col("__covered").cast("double") / col("__ntok")))
      .drop("__ntok", "__covered")
  }

  /** MinHash + LSH banding near-dup candidate pairs, exact-verified.
    *
    * @return (idA, idB, jaccard) with idA < idB and exact shingle-jaccard ≥ threshold.
    *         Banding: `numHashes` minhashes split into `bands`; two docs collide if any
    *         band signature matches — P(collide) ≈ 1-(1-s^r)^b, tuned so docs at the
    *         threshold are found with high probability.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // the banding shuffle carries ONLY (id, band, bucket) — at corpus scale the text
    // payload would dominate the explode(×bands) exchange; text re-attaches by id
    // below, strictly on the (small) candidate set
    val sig = docs.select(col("id"),
      minhashSignature(col("text"), shingleSize, numHashes).as("__sig"))
    // r7: one kernel call per row for all band keys — bit-identical to the
    // per-band xxhash64(concat_ws(",", element_at..)) columns it replaces (the
    // tree was bands × rows element_at/cast/concat nodes; see hashfns.minhashBandKeys)
    val banded = sig.select(col("id"),
      posexplode(hashfns.minhashBandKeys(col("__sig"), rows, bands))
        .as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("id").as("idA"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("idB"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .where(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    // exact-verify: join text back by id. AQE broadcasts the candidate side when it is
    // small (the common case), so the corpus text is never shuffled here either.
    candidates
      .join(docs.select(col("id").as("idA"), col("text").as("textA")), "idA")
      .join(docs.select(col("id").as("idB"), col("text").as("textB")), "idB")
      .withColumn("jaccard", textfns.ngramJaccardSim(col("textA"), col("textB"), shingleSize))
      .where(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")
  }

  /** SimHash near-dup pairs via multi-block pigeonhole bucketing (the HmSearch /
    * multi-index Hamming scheme, Manku et al. WWW'07 §4): the 64-bit simhash splits
    * into `blocks` equal blocks; `maxHamming` differing bits can touch at most
    * `maxHamming` blocks, so any qualifying pair agrees EXACTLY on some combination of
    * `blocks - maxHamming` blocks. Each combination's concatenated block values is a
    * bucket key — `(blocks-maxHamming) · (64/blocks)` bits wide.
    *
    * Bucket-key width is the scale dial: `blocks=4, maxHamming=3` keys on single
    * 16-bit blocks (≤65k buckets — fine to ~10⁷ docs); `blocks=8` keys on C(8,5)=56
    * combinations of 40 bits (~10¹² key space — the ≥10⁹-doc setting). The hamming
    * verify runs BEFORE distinct so the dedup shuffle only carries surviving pairs.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    require(64 % blocks == 0 && blocks > maxHamming,
      s"need 64 % blocks == 0 and blocks > maxHamming (got blocks=$blocks, maxHamming=$maxHamming)")
    val width = 64 / blocks
    val combos = (0 until blocks).combinations(blocks - maxHamming).map(_.toSeq).toSeq
    val sh = df.select(col(idCol).as("id"), hashfns.simhash64(col(textCol)).as("sim"))
    // one bucket key per block combination: chosen block values packed into a long
    // ((blocks-maxHamming)·width = 64 − maxHamming·width bits — always fits).
    // r7: one kernel call per row for all combination keys — bit-identical to the
    // per-combo shiftleft/bitwiseOR folds it replaces (C(8,5)=56 combos × 5-node
    // folds in the blocks=8 configuration; see hashfns.simhashBucketKeys)
    val keyed = sh.select(col("id"), col("sim"),
      posexplode(hashfns.simhashBucketKeys(col("sim"), width, combos))
        .as(Seq("combo", "bucket")))
    val l = keyed.select(col("combo"), col("bucket"), col("id").as("idA"), col("sim").as("simA"))
    val r = keyed.select(col("combo"), col("bucket"), col("id").as("idB"), col("sim").as("simB"))
    l.join(r, Seq("combo", "bucket"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("simA").bitwiseXOR(col("simB"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Character n-gram jaccard similarity of two text columns (exact, per pair). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = textfns.ngramJaccardSim(a, b, n)

  /** Connected components over near-dup candidate pairs → one cluster id per doc
    * (min member id wins). This is the step production dedup needs downstream of
    * LSH/SimHash: pairs say "these two match", the keeper policy needs CLUSTERS.
    *
    * Min-label propagation with pointer jumping: each round every node adopts the min
    * label among itself and its neighbors, then compresses one pointer level (my
    * label's label) — O(log diameter) rounds instead of O(diameter), one join+groupBy
    * plus one self-join each. Convergence is detected from the label SUM: labels only
    * ever decrease, so an unchanged sum is a fixpoint — one cheap action per round
    * instead of a change-count join.
    *
    * @param collectThreshold when the deduped directed-edge count is at most this
    *        (and ids are integral), the component labels are computed by a
    *        driver-local union-find instead of the iterative Spark rounds — a
    *        diameter-3 toy graph otherwise pays ~5 rounds × 3 shuffles of fixed
    *        overhead (measured: 12.6s for 2,200 edges). The result is identical; the
    *        returned frame is a local relation, NOT persisted. 10⁶ edges ≈ 16 MB on
    *        the driver — far below any realistic driver heap.
    * @return (id, cluster_id) for every NON-NULL id that appears in `pairs` (pairs
    *         with a null id are ignored — a null id can't identify a doc); singletons
    *         (ids with no pair) are absent — callers coalesce(cluster_id, id) after a
    *         left join, as the gate query does. On the DISTRIBUTED path the returned frame
    *         IS persisted (its lineage spans every round); `unpersist()` it when done
    *         (a no-op on the small-graph path, so callers can do it unconditionally).
    * @throws IllegalStateException if `maxIters` rounds don't converge (pointer
    *         jumping covers diameter ~2^maxIters, so this only fires on a
    *         pathological graph or a tiny maxIters) — a silent partial result would
    *         split dup clusters and keep extra copies downstream.
    */
  def dupClusters(pairs: DataFrame, idACol: String = "idA", idBCol: String = "idB",
      maxIters: Int = 20, collectThreshold: Long = 1000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // the symmetrized edge union below references `pairs` TWICE — without a persist
    // the whole upstream pair computation (e.g. a MinHash LSH + exact-verify chain)
    // would run twice inside the one edges job; materialize it once instead
    val src0 = pairs.select(col(idACol), col(idBCol)).persist(StorageLevel.MEMORY_AND_DISK)
    // a null id cannot identify a document: drop such edges up front so BOTH paths
    // agree (joins on null never match in the distributed rounds, and the local
    // union-find would otherwise unbox null to 0L and corrupt real id 0's cluster)
    // partitioned on dst ONCE before the persist (the HostGraph transition-matrix
    // rule, r7): every propagation round joins edges on dst, and an un-partitioned
    // cache re-exchanged the EDGE table — the corpus-sized side — each round; now
    // only the N-row label frame moves per round
    val edges = src0.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(src0.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val idType = pairs.schema(idACol).dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // the count doubles as the persist materialization the first round needs anyway
    val edgeCount = edges.count()
    src0.unpersist() // edges are materialized; the input lineage is no longer needed
    if (integral && edgeCount <= collectThreshold) {
      val result = localUnionFind(edges)
      edges.unpersist()
      return result
    }
    val spark = pairs.sparkSession
    // `cached` is the persisted frame of the CURRENT round; `labels` is the same data
    // behind a LogicalRDD wrapper that TRUNCATES the logical plan. Without the cut,
    // the stepped-self-join makes the plan TREE grow ×4 per round (stepped appears
    // twice, each holding labels twice): execution is fine (cache hits), but every
    // plan stringification — the SQL listener does one per action — walks the full
    // 4^round-node tree and OOMs the driver around round 8. A 100-TB graph with a
    // long-chain component would hit exactly that, so the cut is a scale requirement,
    // not cosmetics.
    var cached = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = cached
    var prevSum: Option[java.math.BigDecimal] = None
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val viaNeighbors = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("cluster_id"))
      val stepped = labels.unionByName(viaNeighbors)
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
      // pointer jumping: follow my label's label (every label value is a node id, so
      // the lookup side is `stepped` itself)
      val updated = stepped.as("a")
        .join(stepped.select(col("id").as("__pid"), col("cluster_id").as("__pcid")),
          col("a.cluster_id") === col("__pid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("__pcid"), col("a.cluster_id")).as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // cast BEFORE summing: a LongType sum wraps silently under ansi=false, and a
      // wrapped-sum collision would fake convergence
      val s = updated.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      cached.unpersist()
      cached = updated
      labels = spark.createDataFrame(updated.rdd, updated.schema) // the lineage cut
      // null sum = empty input (no edges at all): nothing to propagate
      converged = s == null || prevSum.contains(s)
      prevSum = Option(s)
      i += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within $maxIters rounds — partial labels would" +
          " silently split duplicate clusters; raise maxIters")
    cached
  }

  /** Driver-local connected components for collect-small edge sets: classic
    * union-find with path compression, roots kept at the component MIN id so the
    * labels match the distributed min-label propagation exactly. Returns a local
    * relation with the same (id, cluster_id) schema/types as the distributed path.
    */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.select(col("src").cast("long"), col("dst").cast("long")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // min id becomes the root, matching min-label propagation
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    val rows = new java.util.ArrayList[Row](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val id = it.next()
      val root = find(id)
      rows.add(if (idType == LongType) Row(id, root) else Row(id.toInt, root.toInt))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType))))
  }

  /** Embedding near-dup pairs: BANDED random-hyperplane (SRP) sketches, exact cosine
    * verify. `bands` independent sketch keys of `sketchBits` hyperplanes each — the
    * MinHash-banding shape applied to SRP-LSH: two rows are candidates if ANY band
    * key matches. With p = 1 − θ/π the per-hyperplane agreement probability,
    * P(candidate) = 1 − (1 − p^sketchBits)^bands — sketchBits is the precision dial
    * (wider keys keep CLUSTERED corpora from collapsing into few buckets, bounding
    * the within-bucket quadratic verify), bands is the recall dial. A single
    * 16-bit key (the r2 shape) is `bands = 1`; the banded default keeps exact/near
    * copies at recall ~1 while quartering each bucket family's collision rate.
    *
    * The band shuffle carries only (band, bucket, id) — vectors re-attach by id
    * strictly on the (small) candidate set, the same payload discipline as
    * [[minhashLsh]].
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      sketchBits: Int = 16, threshold: Double = 0.95, bands: Int = 4): DataFrame = {
    require(sketchBits >= 1 && sketchBits <= 62 && bands >= 1,
      s"need 1 <= sketchBits <= 62 and bands >= 1 (got $sketchBits, $bands)")
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = docs.select(col("id"),
      posexplode(srpSketchBands(col("v"), sketchBits, bands)).as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("id").as("idA"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("idB"))
    val candidates = l.join(r, Seq("band", "bucket"))
      .where(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    candidates
      .join(docs.select(col("id").as("idA"), col("v").as("vA")), "idA")
      .join(docs.select(col("id").as("idB"), col("v").as("vB")), "idB")
      .withColumn("cosine", Ann.cosine(col("vA"), col("vB")))
      .where(col("cosine") >= threshold)
      .select("idA", "idB", "cosine")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023 — public paper):
    * Voronoi-cluster the embeddings (deterministic hash-sampled centroids + one
    * assignment pass, [[Ann.centroids]]/[[Ann.assign]]), generate candidate pairs
    * ONLY within a cell, exact-verify by cosine ≥ `threshold`. Complements
    * [[embeddingCosinePairs]] (SRP banding): clustering candidates catch high-cosine
    * pairs that share no sketch band, and expected cell size corpus/nCentroids
    * bounds the quadratic verify. Recall < 1 BY DESIGN when a true pair straddles a
    * cell boundary — the published method's tradeoff; identical vectors always land
    * in the same cell (same argmax, same tie-break).
    *
    * Scale shape: centroid choice is a tiny hash-ordered sample materialized once;
    * assignment is a map-only literal argmax at any centroid count (no shuffle); the
    * cell self-join shuffles each side once on centroid_id, vectors carried exactly
    * once per side (the immediate cosine+filter consumes them — no re-join pass);
    * a skewed cell is split by AQE. Downstream composes like every pair source:
    * [[dupClusters]] then [[keepBest]].
    */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 256, threshold: Double = 0.95): DataFrame = {
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    val docs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val assigned = Ann.assign(docs, Ann.centroids(docs, "id", "v", nCentroids), "v")
    assigned.select(col("centroid_id"), col("id").as("idA"), col("v").as("__va"))
      .join(assigned.select(col("centroid_id"), col("id").as("idB"), col("v").as("__vb")),
        Seq("centroid_id"))
      .where(col("idA") < col("idB"))
      .withColumn("cosine", Ann.cosine(col("__va"), col("__vb")))
      .where(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
  }

  /** `bands` independent SRP keys of `bits` hyperplanes each, as an array (band b
    * uses hyperplanes [b·bits, (b+1)·bits)). One codegen'd pass over the vector —
    * see [[graft.functions.HashKernels.srpBands]].
    */
  def srpSketchBands(vec: Column, bits: Int, bands: Int): Column =
    hashfns.srpSketchBands(vec, bits, bands)
}
