package graft

import graft.data.{Decontaminate, Dedup, LmQuality, Sampling}
import graft.functions.TrigramLmModel
import graft.web.{GraftMetricsListener, HostGraph, PrefixAgg}
import graft.web.PrefixAgg.{Op, RunningSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: times one named workload at a chosen size and prints one JSON line.
  * Every workload shares three pieces: its inputs are generated once per size
  * ([[materialize]]), each timed body gets an untimed warm-up and then the best of
  * [[Runs]] samples ([[bestOf]], every sample on stderr), and the line carries the
  * task-listener summary of the whole run. Not a recordable artifact; `graft.Bench`
  * writes records.
  *
  * Usage: `sbt "runMain graft.Probe <workload> [size]"`, with `size` as in
  * [[workloads]]. The `gate` workload reads the tables under `SPARK_GRAFT_SF_DIR`.
  */
object Probe {
  val Runs = 3

  /** Seconds one evaluation of `body` takes, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One untimed warm-up call (JIT, codegen, parquet footers), then the fastest of
    * `runs` timed calls. Host noise is one-sided — a run can be slowed down, never sped
    * up — so the minimum is the honest estimate of what the engine does. Every call's
    * time goes to stderr. Returns (result of the last call, best seconds).
    */
  def bestOf[T](label: String, runs: Int = Runs)(body: => T): (T, Double) = {
    val samples = (0 to runs).map { r =>
      val sample = timed(body)
      System.err.println(f"[probe] $label ${if (r == 0) "warm-up" else s"run $r"}: ${sample._2}%.3fs")
      sample
    }.tail
    (samples.last._1, samples.map(_._2).min)
  }

  /** Runs `write(dir)` once for `dir` = tmpdir/`name`: the `_READY` marker written after
    * it succeeds makes later calls, in any JVM, reuse the tables. The timed work is then
    * scan → operator, like production, not synthetic generation. Returns `dir`.
    */
  def materialize(name: String)(write: String => Unit): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/$name"
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists()) { write(dir); ready.createNewFile() }
    dir
  }

  /** Deterministic word-bag documents `(doc_id, text)`: 40 tokens each from a 50k
    * vocabulary — realistic n-gram diversity without external data.
    */
  def wordBag(spark: SparkSession, docs: Long): DataFrame = {
    val dir = materialize(s"graft_wordbag_$docs") { d =>
      spark.range(docs).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(40)),
            i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(50000))))).as("text"))
        .write.mode("overwrite").parquet(s"$d/docs")
    }
    spark.read.parquet(s"$dir/docs")
  }

  /** Computes every column of `df` without measuring disk IO: a bare count() would let
    * Catalyst prune the feature expressions away.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A JSON object whose fields keep their order. */
  private final case class Obj(fields: (String, Any)*)
  private final case class RawJson(text: String)

  private def json(v: Any): String = v match {
    case Obj(fs @ _*) => fs.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case RawJson(text) => text
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o: Option[_] => o.fold("null")(json)
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** A workload: its default size and the run, from the untimed setup through its
    * timed bodies to the fields of its JSON line.
    */
  final case class Workload(size: String,
      run: (SparkSession, String, Option[String]) => Seq[(String, Any)])

  /** Workload name → what `size` counts and the run. */
  val workloads: Map[String, Workload] = Map(
    // the headline job (as-of join + window synthesis over the page table); size = urls
    "headline" -> Workload("200000", (spark, size, _) => {
      val urls = size.toLong
      val (rows, job) = Bench.headlineJob(spark, urls)
      val (_, secs) = bestOf("headline")(job())
      Seq("urls" -> urls, "rows" -> rows, "secs" -> secs, "rows_per_sec" -> (rows / secs).toLong)
    }),
    // gate queries, each built and counted per call as in Bench; size = gate names
    "gate" -> Workload("q1_agg", (spark, size, sfDir) => {
      val dir = sfDir.getOrElse(sys.error("the gate workload reads SPARK_GRAFT_SF_DIR"))
      Seq("sf" -> dir, "gates" -> size.split(",").map(_.trim).toSeq.map { name =>
        val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown gate: $name"))
        val (rows, secs) = bestOf(name)(fn(spark, dir).count())
        Obj("gate" -> name, "secs" -> secs, "rows" -> rows)
      })
    }),
    // global running aggregates, the one deliberately sequential operator; size = rows.
    // The input mimics the events table: an epoch-seconds order key in random disk
    // order, a unique tie-breaker, a nullable double and two string payload columns
    // wide enough that row-codec overhead shows.
    "prefix" -> Workload("20000000", (spark, size, _) => {
      val rows = size.toLong
      val dir = materialize(s"graft_prefix_bench_$rows") { d =>
        spark.range(rows).select(
            (pmod(xxhash64(col("id")), lit(86400L * 365)) + 1577836800L).as("ts"),
            col("id").as("event_id"),
            when(pmod(col("id"), lit(19)) === 0, lit(null))
              .otherwise(sin(col("id").cast("double")) * 100.0).as("value"),
            concat(lit("https://d"), pmod(xxhash64(col("id"), lit(1)), lit(5000)),
              lit(".example.com/p/"), col("id")).as("url"),
            concat(lit("payload "), md5(col("id").cast("string")),
              md5((col("id") + 1).cast("string"))).as("meta"))
          .write.mode("overwrite").parquet(s"$d/events")
      }
      val events = spark.read.parquet(s"$dir/events")
      val specs = Seq(
        PrefixAgg.runningCount("running_count"),
        RunningSpec(Op.Sum, "value", "running_sum"),
        RunningSpec(Op.Min, "value", "running_min"),
        RunningSpec(Op.Max, "value", "running_max"))
      val (_, secs) = bestOf("prefix")(
        noop(PrefixAgg.running(events, Seq("ts", "event_id"), specs, numRanges = 64)))
      Seq("rows" -> rows, "secs" -> secs, "rows_per_sec" -> (rows / secs).toLong)
    }),
    // corpus-wide line dedup over docs × 30 lines; size = docs. ~5% of lines come from
    // a 50-line boilerplate pool, the rest are unique and hash-eligible, so the
    // decision set stays small, as in production.
    "linededup" -> Workload("1000000", (spark, size, _) => {
      val docs = size.toLong
      val dir = materialize(s"graft_linededup_bench_$docs") { d =>
        spark.range(docs).select(col("id").as("doc_id"),
            concat_ws("\n", transform(sequence(lit(1), lit(30)), i =>
              when(pmod(xxhash64(col("id"), i), lit(20)) === 0,
                concat(lit("shared boilerplate navigation footer line number "),
                  pmod(xxhash64(col("id"), i, lit(7)), lit(50))))
                .otherwise(concat(lit("unique content line "), col("id"), lit(" "),
                  i, lit(" "), md5(concat(col("id"), i)))))).as("text"))
          .write.mode("overwrite").parquet(s"$d/docs")
      }
      val corpus = spark.read.parquet(s"$dir/docs")
      val (_, secs) = bestOf("linededup")(noop(Dedup.dedupLines(corpus, "doc_id", "text")))
      Seq("docs" -> docs, "lines" -> docs * 30, "secs" -> secs,
        "lines_per_sec" -> (docs * 30 / secs).toLong)
    }),
    // n-gram decontamination against doc-id slices of the corpus at three benchmark
    // sizes (so a fixed fraction is really contaminated); size = docs. The semi-join
    // should stay near-flat as the gram set grows.
    "decontam" -> Workload("100000", (spark, size, _) => {
      val n = size.toLong
      val docs = wordBag(spark, n)
      Seq("docs" -> n, "points" -> Seq(300L, 30L, 3L).map { m =>
        // ~33 8-grams per 40-token doc: modulus m yields ≈ n/m · 33 distinct grams
        val bench = docs.where(col("doc_id") % m === 0)
        val grams = bench.select(explode(Decontaminate.tokenNgramHashes(col("text"), 8)))
          .distinct().count()
        val (flagged, secs) = bestOf(s"decontam m=$m")(
          Decontaminate.flagNgramOverlap(docs, "doc_id", "text", bench, "text", n = 8)
            .where(col("contaminated")).count())
        Obj("modulus" -> m, "grams" -> grams, "secs" -> secs, "flagged" -> flagged)
      })
    }),
    // trigram LM quality screen; size = docs. Training is paid once per corpus and
    // timed once; scoring is the per-document pass and must track corpus bytes, not
    // model size.
    "lm" -> Workload("1000000", (spark, size, _) => {
      val n = size.toLong
      val docs = wordBag(spark, n)
      val bytes = docs.agg(sum(length(col("text")))).head().getLong(0)
      val (model, trainSecs) =
        timed(LmQuality.trainTrigramLm(docs, "text", vocab = 65536, alpha = 0.4))
      def scored(m: TrigramLmModel): Long =
        LmQuality.scoreTrigramLm(docs, "text", m)
          .where(col("lm_logprob") < 0).count() // forces every score; all are < 0
      val (count, secs) = bestOf("lm score")(scored(model))
      require(count == n, s"expected $n scored docs, got $count")
      // the word bag yields few distinct trigrams, so the 2^16 cut doesn't bind; pad
      // the model to a full 65536 keys (never-matching high keys — results identical)
      // to time scoring at production binary-search depth
      val extra = 65536 - model.packedSize
      val padded = if (extra <= 0) model else new TrigramLmModel(
        model.keys ++ Array.tabulate(extra)(i => model.keys.last + 1 + i),
        model.logProbs ++ Array.fill(extra)(model.unseenLogProb), model.unseenLogProb)
      val (fullCount, fullSecs) = bestOf("lm score full vocab")(scored(padded))
      require(fullCount == n, s"expected $n scored docs, got $fullCount")
      Seq("docs" -> n, "vocab" -> model.packedSize, "train_secs" -> trainSecs,
        "score_secs" -> secs, "docs_per_sec" -> (n / secs).toLong,
        "mb_per_sec" -> bytes / secs / 1e6, "full_vocab" -> padded.packedSize,
        "score_secs_full_vocab" -> fullSecs)
    }),
    // PageRank over a Zipf-ish host graph; size = edges, over edges/100 hosts.
    // dst = floor(hosts · u⁴) puts ≈31.6% of in-links on the hottest 1% of hosts
    // (P(u < 0.01^¼)); src is uniform. The build (transition matrix) is paid once; the
    // per-iteration cost is what multiplies by K on a crawl graph.
    "pagerank" -> Workload("10000000", (spark, size, _) => {
      val edges = size.toLong
      val hosts = math.max(edges / 100, 1L)
      val dir = materialize(s"graft_graph_bench_${edges}_$hosts") { d =>
        val u = pmod(xxhash64(col("id"), lit(1)), lit(1000000)).cast("double") / 1e6
        spark.range(edges).select(
            concat(lit("h"), pmod(xxhash64(col("id")), lit(hosts))).as("src"),
            concat(lit("h"), floor(pow(u, 4.0) * hosts).cast("long")).as("dst"))
          .write.mode("overwrite").parquet(s"$d/edges")
      }
      val graph = spark.read.parquet(s"$dir/edges")
      def ranks(iters: Int): Unit =
        HostGraph.release(HostGraph.pageRank(graph, "src", "dst", iters))
      val (_, one) = bestOf("pagerank iters=1")(ranks(1))
      val (_, five) = bestOf("pagerank iters=5")(ranks(5))
      val perIter = (five - one) / 4
      Seq("edges" -> edges, "hosts" -> hosts, "secs_1_iter" -> one, "secs_5_iters" -> five,
        "secs_per_iter" -> perIter, "edges_per_iter_sec" -> edges / perIter)
    }),
    // DSIR log-weight scoring over the word bag, target ≈ 1/3 of docs decided per
    // row; size = docs. Cost must track corpus tokens, not vocabulary or buckets.
    "dsir" -> Workload("500000", (spark, size, _) => {
      val n = size.toLong
      val docs = wordBag(spark, n)
      val target = pmod(col("doc_id"), lit(3)) === 0
      val (_, secs) = bestOf("dsir")(
        Sampling.dsirLogWeights(docs, "doc_id", "text", target).count())
      Seq("docs" -> n, "tokens" -> n * 40, "secs" -> secs,
        "tokens_per_sec" -> (n * 40 / secs).toLong, "docs_per_sec" -> (n / secs).toLong)
    }))

  /** Runs `args` = `<workload> [size]` on `spark` and returns its JSON line. */
  def run(spark: SparkSession, args: Seq[String], sfDir: Option[String]): String = {
    val usage = s"usage: Probe <${workloads.keys.toSeq.sorted.mkString("|")}> [size]"
    val name = args.headOption.getOrElse(sys.error(usage))
    val workload = workloads.getOrElse(name, sys.error(usage))
    val size = args.lift(1).getOrElse(workload.size)
    val listener = GraftMetricsListener.attach(spark)
    val fields =
      try workload.run(spark, size, sfDir)
      finally {
        Thread.sleep(300) // listener bus drain
        spark.sparkContext.removeSparkListener(listener)
      }
    json(Obj(Seq("workload" -> name, "size" -> size,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "policy" -> s"best-of-$Runs after untimed warmup") ++ fields ++
      // summed over every job of the run: setup, warm-ups and samples
      Seq("task_metrics" -> RawJson(listener.summaryJson)): _*))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try println(run(spark, args.toSeq, sys.env.get("SPARK_GRAFT_SF_DIR")))
    finally spark.stop()
  }
}
