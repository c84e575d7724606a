package perfbench

import graft.core._
import graft.data.{Dedup, TextAnalysis}
import graft.dataset.GraftDataset
import graft.pipeline.{ops, Pipeline}
import graft.selection.{FeatureSelector, SelectionMethod}
import graft.web.WebFeatures
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Outcome of the untimed output checks after the timed iterations.
  * @param outputRows rows one iteration produces, for `rows_per_s`
  * @param checksum order-independent content checksum, compared with the pinned one
  * @param failures one entry per failed check
  * @param attempted number of checks made
  * @param layer per-layer figures only the checks can read (sizes, feature counts)
  */
final case class Checked(outputRows: Long, checksum: Long, failures: Seq[String],
    attempted: Int, layer: Map[String, Double])

/** One benchmark workload: seeded inputs, one iteration of calls into the program,
  * and the checks that its outputs are right.
  */
trait Workload {
  def name: String
  /** Workloads run once untimed and once traced, then checked, after a traced
    * run's timed iterations, for the per-layer metrics of layers this workload
    * does not call.
    */
  def tracePhases: Seq[Workload] = Nil
  def generate(spark: SparkSession, seed: Long, dir: String): Inputs
  /** One iteration; `scratch` is an empty directory the iteration may write to. */
  def iterate(spark: SparkSession, in: Inputs, tr: Tracer, scratch: String): Unit
  /** Untimed checks; `last` holds what the last timed iteration wrote. */
  def check(spark: SparkSession, in: Inputs, last: String): Checked
}

object Workloads {
  val all: Seq[Workload] = Seq(PitPages, ClickstreamSelect)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over `df`: its row count, an order-independent checksum (the sum of
    * per-row hashes, doubles rounded to 6 decimals so that a last-bit difference in
    * a merged partial aggregate cannot flip it), and the number of rows violating
    * each of `violations`.
    */
  def summary(df: DataFrame, violations: Column*): (Long, Long, Seq[Long]) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val aggs = Seq(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))) ++
      violations.map(v => coalesce(sum(when(v, 1L).otherwise(0L)), lit(0L)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), r.getLong(1), violations.indices.map(i => r.getLong(i + 2)))
  }

  /** Runs one check: a thrown exception counts as a failed check, not a crash. */
  final class Checks {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def apply(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val passed = try ok catch { case e: Exception => System.err.println(s"check $what: $e"); false }
      if (!passed) failures += what
    }
  }
}

import Workloads.{noop, summary, Checks}

/** The north-rule job: point-in-time features over a page table, then the as-of
  * backfill of events, one after the other so each job's time is its own.
  */
object PitPages extends Workload {
  val name = "pit_pages"
  val urls = 8000

  override def tracePhases: Seq[Workload] = Seq(Gates)

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = Gen.pages(spark, seed, dir, urls)

  private def load(spark: SparkSession, in: Inputs) =
    (spark.read.parquet(s"${in.dir}/pages"), spark.read.parquet(s"${in.dir}/events"))

  def iterate(spark: SparkSession, in: Inputs, tr: Tracer, scratch: String): Unit = {
    val (pages, events) = load(spark, in)
    tr.span("pit.features")(noop(WebFeatures.pointInTime(pages)))
    tr.span("pit.asof")(noop(WebFeatures.backfillEvents(events, pages)))
  }

  def check(spark: SparkSession, in: Inputs, last: String): Checked = {
    val (pages, events) = load(spark, in)
    val c = new Checks
    val back = WebFeatures.backfillEvents(events, pages).persist()
    val (nFeatures, featureSum, Seq(negativeGaps)) = summary(WebFeatures.pointInTime(pages),
      col("secs_since_last_snapshot") < 0)
    val (nBack, backSum, Seq(leaks)) = summary(back, col("warc_ts") > col("ts"))
    val pageEvents = in.dims.toMap
    c("features: one row per page")(nFeatures == pageEvents("pages").toLong)
    c("features: gaps between snapshots are non-negative")(negativeGaps == 0)
    c("backfill: one row per event")(nBack == pageEvents("events").toLong)
    c("backfill: no matched snapshot after its event")(leaks == 0)
    // reference as-of: the latest snapshot at or before each event, by a plain
    // inequality join and max, independent of the program's as-of operator
    c("backfill: matches the join-and-max reference") {
      val ref = events.select("url", "ts").distinct()
        .join(pages.select(col("url"), col("warc_ts").as("p_ts")), Seq("url"), "left")
        .where(col("p_ts").isNull || col("p_ts") <= col("ts"))
        .groupBy("url", "ts").agg(max("p_ts").as("ref_ts"))
      val got = back.groupBy("url", "ts").agg(max("warc_ts").as("hi"), min("warc_ts").as("lo"))
      got.join(ref, Seq("url", "ts"), "full")
        .where(!(col("hi") <=> col("ref_ts")) || !(col("lo") <=> col("ref_ts")))
        .isEmpty
    }
    back.unpersist()
    Checked(nFeatures + nBack, featureSum ^ (backSum << 1), c.failures.toSeq, c.attempted, Map.empty)
  }
}

/** The paper's generate-then-select use: expand transformer families to about a
  * hundred features, lower them, write them, read them back and score them.
  */
object ClickstreamSelect extends Workload {
  val name = "clickstream_select"
  val (events, users, hotUsers, hotShare) = (8000, 400, 4, 0.3)

  val schema: FeatureSchema = FeatureSchema(
    ColumnSpec.numeric("event_id", ColRole.Identifier),
    ColumnSpec.datetime("ts", ColRole.TimeInfo),
    ColumnSpec.nominal("user_id", ColRole.Identifier),
    ColumnSpec.nominal("event_type"), ColumnSpec.nominal("channel"),
    ColumnSpec.numeric("amount"), ColumnSpec.numeric("duration"), ColumnSpec.numeric("items"),
    ColumnSpec.boolean("label", ColRole.Label))

  override def tracePhases: Seq[Workload] = Seq(TextCuration)

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs =
    Gen.clickstream(spark, seed, dir, events, users, hotUsers, hotShare)

  private val numeric = Seq("amount", "duration")
  private val byUser = Seq(Seq("user_id"))

  def pipeline(ds: GraftDataset): Pipeline = {
    import ops._
    val windows = Seq("1h", "1d", "7d")
    Pipeline(ds)
      .withSeasonal("ts", Seq(Seasonal.HourOfDay, Seasonal.DayOfWeek))
      .withArithmetic(numeric, numeric, Seq(Arithmetic.Add, Arithmetic.Divide))
      .withComparison(numeric, numeric, Seq(Comparison.GreaterThan))
      .withLog(numeric, Seq(math.E))
      .withScaling(numeric, Seq(Scaling.Standard))
      .withLagged(numeric, Seq(1), overColumnsCombinations = byUser)
      .withCount(overColumnsCombinations = byUser, timeWindows = windows,
        indexColumnName = Some("ts"))
      .withCount(overColumnsCombinations = Seq(Seq("user_id"), Seq("channel")),
        cumulative = Cum.Inclusive)
      .withArithmeticAggregation(numeric, Seq(Agg.Mean),
        overColumnsCombinations = byUser, timeWindows = windows, indexColumnName = Some("ts"))
      .withArithmeticAggregation(numeric, Seq(Agg.Max),
        overColumnsCombinations = byUser, timeWindows = Seq("7d"), indexColumnName = Some("ts"))
      .withArithmeticAggregation(numeric, Seq(Agg.Mean, Agg.Std),
        overColumnsCombinations = byUser, cumulative = Cum.Exclusive)
      .withNumUnique("channel", overColumnsCombinations = byUser, timeWindows = Seq("7d"),
        indexColumnName = Some("ts"))
      .withNumUnique("event_type", overColumnsCombinations = byUser, cumulative = Cum.Inclusive)
  }

  private def dataset(spark: SparkSession, in: Inputs) =
    GraftDataset(spark.read.parquet(s"${in.dir}/clicks"), schema, Seq("ts", "event_id"))

  /** Generated columns the selector can score: numeric or boolean features. */
  def scorable(out: GraftDataset): Seq[ColumnSpec] =
    out.schema.columns.filter(c => c.role == ColRole.Feature &&
      (c.colType == ColType.Numeric || c.colType == ColType.Boolean) &&
      !schema.columnNames.contains(c.name))

  def iterate(spark: SparkSession, in: Inputs, tr: Tracer, scratch: String): Unit = {
    val p = tr.span("pipeline.build")(pipeline(dataset(spark, in)))
    val out = tr.span("pipeline.lower")(p.collectPlan())
    tr.span("sink.write")(out.sinkParquet(s"$scratch/features"))
    val back = GraftDataset(spark.read.parquet(s"$scratch/features"), out.schema, out.orderBy)
    val feats = ColumnSelection.fromSpecs(scorable(out))
    val corr = tr.span("select.corr")(FeatureSelector.getReport(back, feats, SelectionMethod.Correlation))
    val ttest = tr.span("select.ttest")(FeatureSelector.getReport(back, feats, SelectionMethod.TTest))
    val t = ttest.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$scratch/report.tsv"),
      corr.stats.map { case (f, v) => s"$f\t$v\t${t(f)}\n" }.mkString)
  }

  def check(spark: SparkSession, in: Inputs, last: String): Checked = {
    val c = new Checks
    val out = pipeline(dataset(spark, in)).collectPlan()
    val path = s"$last/features"
    val written = spark.read.parquet(path)
    val feats = scorable(out)
    val names = feats.map(_.name).sorted
    val (nRows, sum, nulls) = summary(written,
      names.map(f => col(f).isNull || isnan(col(f).cast("double"))): _*)
    c("sink: one row per event")(nRows == in.rows)
    c("pipeline: expands to 25-45 scorable features")(feats.size >= 25 && feats.size <= 45)
    val report = scala.io.Source.fromFile(s"$last/report.tsv").getLines().map(_.split("\t")).toSeq
    val corrs = report.map(r => r(0) -> r(1).toDouble).toMap
    val ttest = report.map(r => r(0) -> r(2).toDouble).toMap
    c("select: every correlation in [0, 1]")(
      feats.forall(f => corrs.get(f.name).exists(v => v >= 0 && v <= 1 + 1e-12)))
    c("select: every t statistic is a non-negative number")(
      feats.forall(f => ttest.get(f.name).exists(v => !v.isNaN && v >= 0)))
    // reference: Spark's own Pearson correlation on the first five features without
    // nulls (the selector's covar_samp and stddev_samp drop nulls one side at a time)
    c("select: correlation matches the reference on five features") {
      val full = names.zip(nulls).collect { case (f, 0L) => f }.take(5)
      val y = col("label").cast("double")
      val ref = written.agg(count(lit(1)), full.map(f => corr(col(f).cast("double"), y)): _*).head()
      full.size == 5 && full.indices.forall { i =>
        val r = if (ref.isNullAt(i + 1)) 0.0 else ref.getDouble(i + 1)
        math.abs(corrs(full(i)) - (if (r.isNaN) 0.0 else math.abs(r))) < 1e-9
      }
    }
    Checked(nRows, sum, c.failures.toSeq, c.attempted, Map(
      "pipeline.features" -> (out.schema.columns.size - schema.columns.size).toDouble,
      "select.values" -> nRows.toDouble * feats.size,
      "sink.mb" -> dirBytes(path) / 1e6, "sink.files" -> parquetFiles(path).toDouble))
  }

  def parquetFiles(path: String): Int =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))

  def dirBytes(path: String): Long =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
}

/** Text curation: per-document analysis, then MinHash LSH near-dup pairs, their
  * clusters, the best copy per cluster, and cross-document line dedup.
  */
object TextCuration extends Workload {
  val name = "text_curation"
  val (docs, lexicon, dupShare) = (600, 50000, 0.2)

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs =
    Gen.corpus(spark, seed, dir, docs, lexicon, dupShare)

  private def load(spark: SparkSession, in: Inputs) =
    spark.read.parquet(s"${in.dir}/documents.parquet").select("doc_id", "text")

  def analysis(docs: DataFrame): DataFrame = {
    val a = TextAnalysis.repetitionSignals(TextAnalysis.analyze(docs, "text"), "text")
    a.select(col("*") +: TextAnalysis.scriptFractions(col("text"))
      .map { case (s, c) => c.as(s"script_$s") }: _*)
  }

  /** The best-quality document of each near-dup cluster, with duplicated lines
    * removed across the kept documents.
    */
  def curated(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val scored = docs.join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))
    Dedup.dedupLines(Dedup.keepBest(scored, "cluster_id", "doc_id", "score"), "doc_id", "text")
  }

  def iterate(spark: SparkSession, in: Inputs, tr: Tracer, scratch: String): Unit = {
    val docs = load(spark, in)
    tr.span("text.analyze")(noop(analysis(docs)))
    tr.note("text.mb", in.mb)
    val pairs = tr.span("dedup.lsh") {
      val p = Dedup.minhashLsh(docs, "doc_id", "text").persist()
      tr.note("dedup.pairs", p.count().toDouble)
      p
    }
    tr.note("dedup.lsh_yield",
      PlanMetrics.filterYield(pairs.queryExecution.executedPlan, "jaccard").getOrElse(0.0))
    val clusters = tr.span("dedup.clusters")(Dedup.dupClusters(pairs))
    tr.span("dedup.keep_lines")(noop(curated(docs, clusters)))
    clusters.unpersist()
    pairs.unpersist()
  }

  def check(spark: SparkSession, in: Inputs, last: String): Checked = {
    val c = new Checks
    val docs = load(spark, in)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (nAnalyzed, analyzedSum, _) = summary(analysis(docs))
    c("analysis: one row per document")(nAnalyzed == texts.size)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    c("lsh: every pair ordered and at or above the 0.7 threshold")(
      pairs.forall { case (a, b, j) => a < b && j >= 0.7 })
    c("lsh: jaccard matches the reference shingle sets")(
      pairs.forall { case (a, b, j) => math.abs(jaccard(texts(a), texts(b)) - j) < 1e-12 })
    val clusterOf = unionFind(pairs.map(p => (p._1, p._2)))
    // every generated near-dup pair with jaccard >= 0.9 is found with probability
    // 1 - (1 - 0.9^4)^16 > 0.9999999 at 16 bands of 4 rows
    c("lsh: every generated near-dup with jaccard >= 0.9 shares a cluster")(
      in.nearDups.forall { case (a, b) =>
        jaccard(texts(a), texts(b)) < 0.9 || clusterOf.contains(a) && clusterOf.get(a) == clusterOf.get(b)
      })
    val engineClusters = Dedup.dupClusters(spark.createDataFrame(pairs.toSeq).toDF("idA", "idB", "jaccard"))
    c("clusters: match the reference union-find")(
      engineClusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == clusterOf)
    val out = curated(docs, engineClusters).persist()
    val (nOut, outSum, _) = summary(out)
    c("keep: one document per cluster")(nOut == texts.size - clusterOf.size + clusterOf.values.toSet.size)
    c("lines: no kept line of 10+ chars appears twice")(
      out.select(explode(split(col("text"), "\n")).as("l")).select(trim(col("l")).as("l"))
        .where(length(col("l")) >= 10).groupBy("l").count().where(col("count") > 1).isEmpty)
    out.unpersist()
    Checked(nAnalyzed + nOut, analyzedSum ^ (outSum << 1), c.failures.toSeq, c.attempted, Map.empty)
  }

  /** Distinct code-point 5-gram sets, intersection over union. */
  def jaccard(a: String, b: String): Double = {
    def grams(s: String): Set[String] = {
      val cps = s.codePoints().toArray
      (0 to cps.length - 5).map(i => new String(cps, i, 5)).toSet
    }
    val (ga, gb) = (grams(a), grams(b))
    val union = (ga | gb).size
    if (union == 0) 0.0 else (ga & gb).size.toDouble / union
  }

  /** Connected components labelled by their smallest member. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
