package perfbench

import graft.SparkEntry
import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Up to two of the engine's oracle-gated queries per family, each run with
  * `.count()` as the engine's own bench runs them, over small seeded tables in the
  * gate layout (`events`, `orders`, `documents`, `embeddings`). A trace phase only:
  * it gives the `gates` layer its per-layer figures, planning against execution.
  */
object Gates extends Workload {
  val name = "gates"

  val byFamily: Seq[(String, Seq[String])] = Seq(
    "windows" -> Seq("q_rolling", "q_cum_count"),
    "asof" -> Seq("q_asof", "q_sessionize"),
    "text" -> Seq("q_quality", "q_langid"),
    "dedup" -> Seq("q_minhash_pairs", "q_dup_clusters"),
    "vector" -> Seq("q_ann_topk", "q_embed_dup"),
    "graph" -> Seq("q_pagerank"),
    "select" -> Seq("q_select_corr", "q_dsir_select"),
    "sampling" -> Seq("q_sample", "q_domain_cap"))
  val families: Seq[String] = byFamily.map(_._1)

  private val EventTypes = Array("view", "click", "cart", "buy", "search")

  /** 2,000 events of 100 users over 30 days, 500 orders of the same users, a
    * 200-document corpus and 200 16-dimensional embeddings in 5 classes.
    */
  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val rng = new SplittableRandom(seed * 1000003L + 4)
    def at(sec: Long) = LocalDateTime.ofEpochSecond(Gen.Epoch0 + sec, 0, java.time.ZoneOffset.UTC)
    val events = ArrayBuffer.empty[Row]
    for (e <- 0 until 2000) {
      val et = EventTypes(rng.nextInt(EventTypes.length))
      events += Row(e.toLong, at(rng.nextLong(30 * 86400L)), Gen.zipf(rng, 100).toLong, et,
        rng.nextInt(10000) / 100.0, s"""{"k":${rng.nextInt(9)}}""")
    }
    val orders = ArrayBuffer.empty[Row]
    for (o <- 0 until 500)
      orders += Row(o.toLong, Gen.zipf(rng, 100).toLong, "OFP".substring(rng.nextInt(3)).take(1),
        rng.nextInt(100000) / 100.0, at(rng.nextLong(30 * 86400L)), s"${1 + rng.nextInt(5)}-PRIORITY")
    val vectors = ArrayBuffer.empty[Row]
    for (v <- 0 until 200) {
      val label = v % 5
      vectors += Row(v.toLong, Array.tabulate(16)(d =>
        ((if (d % 5 == label) 1.0 else 0.0) + rng.nextDouble() * 0.5).toFloat).toSeq, label)
    }
    def write(rows: ArrayBuffer[Row], schema: StructType, table: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    write(events, StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), "events")
    write(orders, StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))), "orders")
    write(vectors, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))), "embeddings")
    val docs = Gen.corpus(spark, seed, dir, 200, 50000, 0.2)
    Inputs(dir, events.size + orders.size + vectors.size + docs.rows, docs.mb,
      Seq("gates" -> byFamily.flatMap(_._2).mkString(",")))
  }

  def iterate(spark: SparkSession, in: Inputs, tr: Tracer, scratch: String): Unit = {
    val rows = tr.span("gates") {
      for ((family, gates) <- byFamily; g <- gates)
        yield g -> tr.span(s"gates.$family")(SparkEntry.queries(g)(spark, in.dir).count())
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$scratch/rows.tsv"),
      rows.map { case (g, n) => s"$g\t$n\n" }.mkString)
  }

  /** Every gate answers with at least one row on these tables. */
  def check(spark: SparkSession, in: Inputs, last: String): Checked = {
    val rows = scala.io.Source.fromFile(s"$last/rows.tsv").getLines()
      .map(_.split("\t")).map(r => r(0) -> r(1).toLong).toMap
    val c = new Workloads.Checks
    for ((_, gates) <- byFamily; g <- gates) c(s"gates: $g returns rows")(rows.getOrElse(g, 0L) > 0)
    Checked(rows.values.sum, 0L, c.failures.toSeq, c.attempted, Map.empty)
  }
}
