package graft.web

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Host-graph centrality for crawl curation. Real pipelines rank hosts (Common
  * Crawl publishes exactly this as its host-level ranks; RefinedWeb/C4-style
  * curation filters on them) and use the rank as a per-document quality prior.
  *
  * No reference counterpart (auto-featurs has no graph operators); the semantics
  * are the textbook damped PageRank over a weighted edge list:
  *
  *   rank_0(v)     = 1/N
  *   rank_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} rank_t(u)·w(u,v)/outdeg(u)
  *                                   + danglingMass_t / N )
  *
  * where multi-edges weight by multiplicity, `outdeg(u)` is the weighted
  * out-degree, and the rank mass of dangling nodes (no out-edges) is
  * redistributed uniformly — total rank stays 1 every iteration.
  *
  * Scale shape (host graphs: ~10⁸ nodes, ~10¹⁰ edges at crawl scale):
  *   - the transition matrix (src, dst, p) is built ONCE — two groupBys on
  *     (src,dst) / (src) with map-side partial aggregation — persisted, and
  *     hash-partitioned on `src` so every iteration's contribution join reuses
  *     the same partitioning; ranks are repartitioned to match, so the
  *     per-iteration shuffle moves only the N-row rank frame, never the edges.
  *   - per iteration: one join + one groupBy(dst) aggregation; the dangling
  *     mass rides as a broadcast 1-row aggregate (no per-iteration driver
  *     collect of graph state).
  *   - each iteration's rank frame is EAGERLY localCheckpointed — the successor
  *     references it twice (dangling aggregate + contribution join), so without
  *     the cut the logical plan doubles per iteration (exponential analysis
  *     cost); the checkpoint caps the plan at constant depth and bounds the
  *     per-iteration job to the N-row rank frame. (localCheckpoint trades
  *     executor-loss recoverability for speed — the standard choice for
  *     iterative graph state; a lost executor restarts the run from the last
  *     durable input, exactly like GraphX/Pregel jobs.)
  *   - hot hosts (every crawl has a few) skew the groupBy(dst); AQE's skew
  *     handling applies, and contributions are pre-aggregated map-side.
  *
  * `roundEachIter` floors each iteration's ranks to 6 decimals (the repo-wide
  * floor-based r6 formula) so a second engine iterating in a different
  * summation order stays bit-identical — the cross-engine-oracle switch; leave
  * it off for production runs.
  */
object HostGraph {

  /** @param edges   edge list; null src/dst rows are dropped
    * @param iters   fixed iteration count (power iteration; callers wanting a
    *                convergence test can compare successive outputs)
    * @param numPartitions partition count for the transition/rank frames; 0 =
    *   `spark.sql.shuffle.partitions`. Size to the NODE count (hosts — orders of
    *   magnitude smaller than the edge list): a 21-node gate graph under 256
    *   default partitions pays thousands of empty iteration tasks for nothing.
    * @return (host, rank) — one row per distinct node, Σ rank = 1
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      damping: Double = 0.85, roundEachIter: Boolean = false,
      numPartitions: Int = 0): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping >= 0.0 && damping <= 1.0, s"damping must be in [0,1], got $damping")
    require(numPartitions >= 0, s"numPartitions must be >= 0, got $numPartitions")
    val spark = edges.sparkSession
    def byKey(df: DataFrame, key: String): DataFrame =
      if (numPartitions > 0) df.repartition(numPartitions, col(key))
      else df.repartition(col(key))
    def rnd(c: org.apache.spark.sql.Column) =
      if (roundEachIter) graft.functions.rounding.r6(c) else c

    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

    // transition probabilities, built once; partitioned on src for join reuse
    val w = e.groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
    val outDeg = w.groupBy("src").agg(sum("w").as("od"))
    // partitioned AND sorted on src once: when the rank frame is too big to
    // broadcast (10⁸-host graphs) the per-iteration join is a sort-merge on
    // src — the cached frame's ordering means only the N-row rank side ever
    // sorts, never the edge-sized transition matrix
    val trans = byKey(w.join(outDeg, "src")
        .select(col("src"), col("dst"), (col("w") / col("od")).as("p")), "src")
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nodes partitioned on host ONCE — every iteration's left join reuses this
    // side's partitioning instead of re-exchanging it — and carrying their
    // dangling flag (no out-edges), so the per-iteration dangling-mass
    // aggregate is a filter over the checkpointed rank frame instead of an
    // anti-join against a second persisted table (r7: one fewer join per
    // iteration; the flag is one boolean per node, static across iterations)
    val nodes = byKey(e.select(col("src").as("host"))
        .union(e.select(col("dst").as("host"))).distinct(), "host")
      .join(outDeg.select(col("src").as("host"), lit(true).as("__has")), Seq("host"), "left")
      .select(col("host"), col("__has").isNull.as("__dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    if (n == 0) {
      trans.unpersist(); nodes.unpersist()
      return nodes.select(col("host")).withColumn("rank", lit(null).cast("double"))
    }

    // Each iteration ends in an EAGER localCheckpoint: the successor references
    // the rank frame twice (dangling aggregate + contribution join), so without
    // the cut the logical plan doubles per iteration — exponential analysis cost
    // (a K=8 run OOMs in plan stringification alone). The checkpoint both caps
    // the plan and materializes the N-row frame, so each iteration is one small
    // job over checkpointed state; the dangling mass rides inside it as a
    // broadcast 1-row aggregate, never a driver collect. The INITIAL rank frame
    // needs no checkpoint of its own (r7: one fewer job): it is a constant-rank
    // projection over the persisted `nodes`, so iteration 1's two references
    // re-read the cache, not a lineage, and the plan depth is already capped.
    var ranks = nodes.select(col("host"), rnd(lit(1.0 / n)).as("rank"), col("__dang"))
    for (_ <- 1 to iters) {
      val dmF = ranks.where(col("__dang"))
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      val contrib = trans.join(ranks, trans("src") === ranks("host"))
        .groupBy(col("dst").as("host"))
        .agg(sum(col("p") * col("rank")).as("c"))
      // association order mirrored verbatim by the oracle: (1-d)/n + d*dm/n + d*c
      val next = byKey(nodes.join(contrib, Seq("host"), "left")
        .crossJoin(broadcast(dmF))
        .select(col("host"),
          rnd(lit((1.0 - damping) / n) + lit(damping) * col("__dm") / lit(n)
            + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"),
          col("__dang")), "host")
        .localCheckpoint()
      // `next` is materialized (eager checkpoint) — the superseded iteration's
      // blocks can go NOW. Dataset.unpersist can't free them (checkpoint RDDs
      // aren't in the CacheManager), so release the backing RDD directly. The
      // initial rank frame is a projection over `nodes`, not a checkpoint, so
      // `release` leaves it (and any checkpointed input behind it) alone.
      release(ranks)
      ranks = next
    }
    trans.unpersist(); nodes.unpersist()
    ranks.select(col("host"), col("rank"))
  }

  /** Free the checkpointed blocks behind a frame [[pageRank]] returned (a plain
    * `unpersist()` is a silent no-op for locally-checkpointed state — the RDD is
    * not registered in the CacheManager). Call when done with the ranks; without
    * it the blocks live until the ContextCleaner GCs the dataset. Only a checkpoint
    * at the top of the plan, under at most one projection, is freed: a checkpoint
    * deeper in the lineage is an input the frame was built from, such as a caller's
    * own checkpointed edge list, and is not this frame's to free. */
  def release(ranks: DataFrame): Unit = ranks.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case Project(_, lr: LogicalRDD) => lr.rdd.unpersist(blocking = false)
    case _ =>
  }
}
