package graft

import graft.core._
import graft.dataset.GraftDataset
import graft.pipeline.{ops, Pipeline}
import graft.web.{Pages, WebFeatures}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape guarantees — the 100 TB design contract, enforced as tests:
  *  - features sharing (partition, order) collapse into few Window nodes
  *  - one exchange serves the whole per-key feature family
  *  - column pruning reaches the parquet scan
  *  - whole-dataset scalars broadcast (no single-partition window)
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def count(p: String, token: String): Int = p.linesIterator.count(_.contains(token))

  test("the whole per-url feature family shares one shuffle (plus the generator's)") {
    val pages = Pages.generate(spark, 2000, seed = 3L, numPartitions = 4)
    val df = WebFeatures.pointInTime(pages)
    val p = plan(df)
    // dependent window stages may not merge, but they must REUSE the (url) sort:
    // exchanges = generator's url_id shuffle + ONE url shuffle. Sort alignment
    // (AggContext.alignedName) puts the epoch-seconds twin first in every window
    // ordering, so the row-frame families, the 7d/30d range family, the lag family,
    // and sessionize ALL share one in-partition sort: ≤2 sorts total (generator's +
    // the family's) — without alignment this plan paid three.
    val exchanges = count(p, "Exchange hashpartitioning")
    val sorts = count(p, "Sort [")
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n${p.take(4000)}")
    assert(sorts <= 2, s"expected <=2 sorts, got $sorts")
  }

  test("global (no-over) PMI broadcasts its total — no whole-table window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_pmi")(spark, "/root/testdata/sf0.001")
    // a Window node with an EMPTY partition spec funnels the entire table through
    // one task; the global denominator must ride the GlobalScalar broadcast path.
    // (The per-value numerators keep windows partitioned by their conditioning
    // columns, and the scalar's own tiny final aggregate is allowed.)
    // NOTE: sparkPlan, not executedPlan — under AQE executedPlan is an opaque
    // AdaptiveSparkPlanExec LEAF, so collect{} over it finds nothing and the
    // assertion would be vacuous (verified: sparkPlan exposes the Window nodes).
    val allWindows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    // vacuity guard: the PMI numerators ARE windows, so finding none means the
    // traversal broke (e.g. an adaptive leaf), not that the plan is window-free
    assert(allWindows.nonEmpty, "plan traversal found no WindowExec at all — vacuous test")
    val unpartitioned = allWindows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"found ${unpartitioned.size} whole-table Window node(s):\n${unpartitioned.mkString("\n").take(1500)}")
  }

  test("mixed rolling + running pipeline features share one in-partition sort") {
    val ds = GraftDataset(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "value"),
      FeatureSchema(
        ColumnSpec.numeric("event_id", ColRole.Identifier),
        ColumnSpec.datetime("ts", ColRole.TimeInfo),
        ColumnSpec.numeric("user_id"),
        ColumnSpec.numeric("value")),
      orderBy = Seq("ts", "event_id"))
    val df = Pipeline(ds)
      .withCount(overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive)
      .withLagged("value", Seq(1), overColumnsCombinations = Seq(Seq("user_id")))
      .withCount(overColumnsCombinations = Seq(Seq("user_id")),
        timeWindows = Seq("7d"), indexColumnName = Some("ts"))
      .toDF()
    val p = plan(df)
    val sorts = count(p, "Sort [")
    val exchanges = count(p, "Exchange hashpartitioning")
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
    assert(sorts == 1, s"aligned orderings must share ONE sort, got $sorts:\n${p.take(4000)}")
    // the internal aligned twin must not leak into the output
    assert(!df.columns.exists(_.startsWith("__graft_ord_")), df.columns.mkString(","))
  }

  test("feature count does not drive exchange count") {
    val ds = GraftDataset(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts", "user_id", "value"),
      FeatureSchema(
        ColumnSpec.numeric("event_id", ColRole.Identifier),
        ColumnSpec.datetime("ts", ColRole.TimeInfo),
        ColumnSpec.nominal("user_id", ColRole.Identifier),
        ColumnSpec.numeric("value")),
      Seq("ts", "event_id"))
    def exchangesFor(lags: Seq[Int]): Int = {
      val df = Pipeline(ds)
        .withLagged("value", lags, overColumnsCombinations = Seq(Seq("user_id")))
        .withCount(overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive)
        .withArithmeticAggregation("value", Seq(ops.Agg.Sum, ops.Agg.Mean, ops.Agg.Min, ops.Agg.Max),
          overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive)
        .toDF()
      count(plan(df), "Exchange hashpartitioning")
    }
    val few = exchangesFor(Seq(1))
    val many = exchangesFor(Seq(1, 2, 3, 4, 5, 6, 7, 8))
    assert(few == many, s"exchanges grew with feature count: $few -> $many")
    assert(many == 1, s"expected exactly 1 exchange, got $many")
  }

  /** Every window expression of the analyzed plan. */
  private def windowExpressions(df: DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    import org.apache.spark.sql.catalyst.plans.logical.Window
    df.queryExecution.analyzed.collect { case w: Window => w.windowExpressions }.flatten
      .flatMap(_.collect { case we: WindowExpression => we })
  }

  /** 200 events of 5 users ten minutes apart, with two double columns. */
  private def clicks = {
    val df = spark.range(200).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 600).as("ts"), pmod(col("id"), lit(5)).as("user_id"),
      sin(col("id")).as("a"), cos(col("id")).as("b"))
    GraftDataset(df, FeatureSchema(
      ColumnSpec.numeric("event_id", ColRole.Identifier), ColumnSpec.datetime("ts", ColRole.TimeInfo),
      ColumnSpec.nominal("user_id", ColRole.Identifier), ColumnSpec.numeric("a"), ColumnSpec.numeric("b")),
      Seq("ts", "event_id"))
  }

  test("a rolling mean and std take one sum, one count, one stddev per frame") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val df = Pipeline(clicks)
      .withArithmeticAggregation("a", Seq(ops.Agg.Mean, ops.Agg.Std),
        overColumnsCombinations = Seq(Seq("user_id")), timeWindows = Seq("1h", "7d"),
        indexColumnName = Some("ts"))
      .toDF()
    val byFrame = windowExpressions(df).groupBy(_.windowSpec.frameSpecification).map {
      case (frame, wes) => frame -> wes.map(_.windowFunction).collect {
        case ae: AggregateExpression => ae.aggregateFunction.prettyName }.sorted
    }
    assert(byFrame.size == 2 && byFrame.values.forall(_ == Seq("count", "stddev_samp", "sum")),
      byFrame.mkString("\n"))
  }

  test("IEEE division and log cast nothing to string") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.StringType
    val df = Pipeline(clicks)
      .withArithmetic(Seq("a"), Seq("b"), Seq(ops.Arithmetic.Divide))
      .withLog(Seq("a"), Seq(math.E))
      .toDF()
    assert(df.columns.toSet.contains("a_divide_b") && df.columns.toSet.contains("a_ln"))
    val plans = Seq(df.queryExecution.analyzed, df.queryExecution.optimizedPlan)
    val casts = plans.flatMap(_.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case c: Cast if c.dataType == StringType => c }))
    assert(casts.isEmpty, casts.mkString("\n"))
  }

  test("sessionize takes lag(ts) once") {
    import org.apache.spark.sql.catalyst.expressions.Lag
    val df = graft.web.Sessionize.withSessionIds(clicks.df, Seq("user_id"), "ts", 1800L,
      orderBy = Seq("ts", "event_id"))
    assert(windowExpressions(df).count(_.windowFunction.isInstanceOf[Lag]) == 1)
  }

  test("column pruning reaches the parquet scan") {
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/events.parquet")
    val schema = FeatureSchema(
      ColumnSpec.numeric("event_id", ColRole.Identifier),
      ColumnSpec.datetime("ts", ColRole.TimeInfo),
      ColumnSpec.nominal("user_id", ColRole.Identifier),
      ColumnSpec.numeric("value"))
    val ds = GraftDataset(df.select("event_id", "ts", "user_id", "value"), schema, Seq("ts", "event_id"))
    val out = Pipeline(ds)
      .withLagged("value", Seq(1), overColumnsCombinations = Seq(Seq("user_id")))
      .toDF()
      .select("event_id", "value_lagged_1_over_user_id")
    val p = plan(out)
    // the scan must not read event_type/props (pruned by Catalyst)
    val scanLine = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(!scanLine.contains("props") && !scanLine.contains("event_type"),
      s"scan not pruned: $scanLine")
  }

  test("whole-dataset scalers use broadcast join, not a single-partition window") {
    val out = Pipeline(basicDataset())
      .withScaling("NUMERIC_FEATURE", Seq(ops.Scaling.Standard, ops.Scaling.MinMax))
      .toDF()
    val p = plan(out)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast for global scalars:\n${p.take(3000)}")
    // no Window with empty partition spec (single-task funnel)
    assert(!p.contains("windowspecdefinition()"), "found empty-partition window")
  }

  test("as-of join is one shuffle over the key") {
    val pages = Pages.generate(spark, 1000, seed = 3L, numPartitions = 4)
    val events = Pages.events(spark, pages)
    val p = plan(WebFeatures.backfillEvents(events, pages))
    // union + window: exchanges only for the two inputs' partitioning (hashpartition url)
    val exchanges = count(p, "Exchange hashpartitioning")
    assert(exchanges <= 1, s"as-of should shuffle once on the key, got $exchanges exchanges")
  }

  test("bucketed+sorted storage makes the per-key window family exchange-free") {
    // the 100-TB layout recipe: persist the page table bucketed by url (Iceberg
    // sorted-partition analogue) and the whole per-url window family needs NO shuffle
    withTempDir("graft_bucketed") { dir =>
      val pages = Pages.generate(spark, 500, seed = 5L, numPartitions = 4)
        .select("url", "warc_ts", "text", "lang")
      pages.write.format("parquet").option("path", s"$dir/pages_b")
        .bucketBy(8, "url").sortBy("url", "warc_ts")
        .mode("overwrite").saveAsTable("pages_bucketed")
      try {
        val t = spark.table("pages_bucketed")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("url")).orderBy(col("warc_ts"))
        val df = t
          .withColumn("prev_ts", lag(col("warc_ts"), 1).over(w))
          .withColumn("snap_idx", row_number().over(w))
        assert(count(plan(df), "Exchange hashpartitioning") == 0,
          s"bucketed scan should satisfy the window distribution:\n${plan(df).take(2000)}")
        assert(df.count() == pages.count())
      } finally spark.sql("DROP TABLE IF EXISTS pages_bucketed")
    }
  }

  test("LSH banding shuffle carries ids only, never document text") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i " + ("word " * 30))).toDF("doc_id", "text")
    val out = graft.data.Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 8)
    val lp = out.queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, "expected the band-bucket self-join in the plan")
    bandJoins.foreach { j =>
      val names = (j.left.output ++ j.right.output).map(_.name)
      assert(!names.exists(n => n == "text" || n == "textA" || n == "textB"),
        s"band join carries text: $names")
    }
  }

  test("embedding SRP band join carries ids only, never the vectors") {
    import spark.implicits._
    val vecs = (0L until 100L).map(i => (i, Array.fill(16)(i.toFloat + 1))).toDF("vec_id", "embedding")
    val out = graft.data.Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding",
      sketchBits = 16, threshold = 0.99, bands = 4)
    val lp = out.queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, "expected the band-bucket self-join in the plan")
    bandJoins.foreach { j =>
      val names = (j.left.output ++ j.right.output).map(_.name)
      assert(!names.exists(n => Set("embedding", "v", "vA", "vB").contains(n)),
        s"band join carries vectors: $names")
    }
  }

  test("pageRank returns checkpointed state — result plan is constant-size in iters") {
    import spark.implicits._
    val edges = (0 until 200).map(i => (s"h${i % 9}", s"h${(i * 7) % 11}")).toDF("s", "d")
    def planLines(iters: Int): Int =
      graft.web.HostGraph.pageRank(edges, "s", "d", iters)
        .queryExecution.optimizedPlan.toString.linesIterator.size
    val p2 = planLines(2); val p6 = planLines(6)
    // each iteration references the previous rank frame TWICE; without the eager
    // per-iteration cut the plan doubles per iteration (2^k — a K=8 run OOM'd in
    // plan stringification before the fix). Checkpointed state keeps it flat.
    assert(p2 == p6, s"plan grew with iterations: $p2 lines @2 vs $p6 @6")
    assert(p6 < 10, s"expected a leaf-sized checkpointed plan, got $p6 lines")
  }

  test("dsir log-ratio table joins back via broadcast, never a shuffle of the tokens") {
    import spark.implicits._
    val d = (0L until 300L).map(i => (i, s"w${i % 40} w${i % 7} w${i % 13}", if (i % 3 == 0) "en" else "fr"))
      .toDF("id", "text", "lang")
    val out = graft.data.Sampling.dsirLogWeights(d, "id", "text", col("lang") === "en")
    val p = plan(out)
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("__b")),
      s"expected broadcast join of the log-ratio table on the bucket key:\n$p")
    // the token stream must never shuffle on the bucket key (the id-keyed final
    // left join is the one legitimate shuffle join)
    assert(!p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("__b")),
      s"token-side shuffle join crept in:\n$p")
  }

  test("selection aggregates stay inside whole-stage codegen at 150 features") {
    import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val names = (0 until 150).map(i => s"f$i")
    val df = spark.range(0, 2000, 1, 4).select((col("id") % 3 === 0).as("y") +:
      names.zipWithIndex.map { case (f, i) => (col("id") * (i + 1) % 97).cast("double").as(f) }: _*)
    val ds = GraftDataset(df, FeatureSchema((names.map(ColumnSpec.numeric(_)) :+
      ColumnSpec.boolean("y", ColRole.Label)): _*), Nil)
    object helper extends AdaptiveSparkPlanHelper
    // a node belongs to a codegen stage when reached from it without crossing an InputAdapter
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    for (method <- Seq(graft.selection.SelectionMethod.Correlation, graft.selection.SelectionMethod.TTest)) {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val l = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        graft.selection.FeatureSelector.getReport(ds, names, method)
        // query-execution listeners are delivered through the same listener bus
        org.apache.spark.sql.graftbridge.InternalBridge.drainListeners(spark.sparkContext)
      } finally spark.listenerManager.unregister(l)
      assert(plans.size == 1, s"${method.label}: expected one query, got ${plans.size}")
      val p = plans.peek()
      val aggs = helper.collect(p) { case a: HashAggregateExec => a }
      val coded = helper.collect(p) { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
      assert(aggs.nonEmpty && aggs.forall(a => coded.exists(_ eq a)),
        s"${method.label}: an aggregate fell out of whole-stage codegen:\n$p")
    }
  }
}
