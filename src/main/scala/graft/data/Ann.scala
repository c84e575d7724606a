package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `Array[Float]` embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set against the
  *    corpus, one pass, per-query top-k via window. Scales linearly in corpus size.
  *  - [[ivfTopK]]: IVF-style scale path — partition the corpus into `nCentroids`
  *    Voronoi cells (deterministic centroid sample, one assignment pass), search only
  *    the `nProbe` cells closest to each query. Approximate: recall < 1 when the true
  *    neighbor lives outside probed cells.
  */
object Ann {

  /** Cosine similarity of two numeric arrays, computed in double with a sequential
    * fold (bit-compatible with DuckDB's list_dot_product composition over DOUBLE[]).
    * Native codegen'd kernel — the HOF formulation it replaces paid ~400 interpreted
    * lambda calls per pair (see [[graft.functions.VectorKernels]]).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.vecfns.cosineSim(a, b)

  /** @param queries rows with (queryIdCol, vecCol); must be broadcast-small
    * @return (queryId, neighborId, cosine, rank) with rank 1..k, ties broken by id
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      queryIdCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic centroid choice: the `nCentroids` corpus rows with the smallest
    * xxhash64(id) — a seeded uniform sample without an RNG — among the rows with a
    * usable vector. A null vector or a null element nulls every cosine (`cosine(v, v)`
    * is null exactly then), so such a row is never a centroid. Nor is a zero vector:
    * its cosine with every row is NaN (`cosine(v, v)` is NaN exactly then), which the
    * assignment ranks above every real cosine, so its cell would capture every row.
    *
    * EAGER: collects the (tiny by contract) sample once into a local relation — no
    * cache to leak in a long-lived session, no corpus re-scan when both [[assign]]
    * and a probe join consume it.
    */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String, nCentroids: Int): DataFrame = {
    val sample = corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("__centroid"),
        xxhash64(col(idCol)).as("__h"))
      .withColumn("__self", cosine(col("__centroid"), col("__centroid")))
      .where(col("__self").isNotNull && !isnan(col("__self")))
      .orderBy(col("__h")).limit(nCentroids).drop("__h", "__self")
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(sample.collect(): _*), sample.schema)
  }

  /** One assignment pass: nearest centroid per corpus row (max cosine, NaN largest,
    * null cosines lose, ties → smallest id).
    *
    * EAGER at plan time: runs exactly ONE `collect()` on `cents` to harvest the
    * literal vectors — pass a local centroid frame (as [[centroids]] returns) so the
    * centroid lineage is not recomputed.
    *
    * Assignment is a MAP-ONLY argmax over the literal vectors at any centroid count:
    * one [[graft.functions.ArgMaxCosine]] kernel call per row against a shared
    * centroid bank, whose generated code is O(1) in the centroid count. No crossJoin
    * row explosion, no shuffle-by-id window — at 10^12 corpus rows the difference
    * between a scan and a shuffle. The centroid id may be any integral type (the
    * assigned `centroid_id` is a long), the centroid vector any numeric element type
    * (float/double/int), like [[cosine]] itself; float→double is exact.
    */
  def assign(corpus: DataFrame, cents: DataFrame, vecCol: String): DataFrame = {
    val cRows = cents.select(col("centroid_id"), col("__centroid")).collect().map(r =>
      (r.getAs[Number](0).longValue(), r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue())))
    require(cRows.nonEmpty, "no centroids")
    corpus.withColumn("centroid_id",
      graft.functions.vecfns.argMaxCosine(col(vecCol), cRows.map(_._1).toSeq, cRows.map(_._2).toSeq))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      queryIdCol: String, k: Int, nCentroids: Int, nProbe: Int): DataFrame = {
    val cents = centroids(corpus, idCol, vecCol, nCentroids)
    val assigned = assign(corpus, cents, vecCol)

    // per query: nProbe closest centroids
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val qProbes = q.crossJoin(broadcast(cents))
      .withColumn("__sim", cosine(col("__qv"), col("__centroid")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__sim").desc, col("centroid_id").asc)))
      .where(col("__rk") <= nProbe)
      .select(col("query_id"), col("__qv"), col("centroid_id"))

    val scored = assigned.join(qProbes, Seq("centroid_id"))
      .where(col(idCol) =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col(vecCol)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cosine"), col("rank"))
  }
}
