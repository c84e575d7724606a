package graft

import graft.core._
import graft.dataset.GraftDataset
import graft.functions.rounding.r6
import graft.pipeline.{ops, Pipeline}
import graft.selection.SelectionMethod
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-operator queries for the driver's DuckDB correctness gate.
  *
  * Conventions keeping the hash-compare stable:
  *  - every output ordered by an explicit key, columns aliased identically in both
  *  - float-valued computed columns rounded on BOTH sides via the same floor-based
  *    formula (both engines' native `round` disagree on currency-style midpoints)
  *  - timestamps cast to epoch seconds when they appear in outputs
  *
  * Each gate is one [[Gate]] value, keyed once in [[gates]] (or [[DataQueries.gates]]);
  * [[all]] and [[oracles]] are projections of the two tables.
  */
object Queries {

  /** One oracle gate: the engine query over the parquet tables in a directory, and
    * the DuckDB SQL over the same tables that must return the same rows.
    */
  final case class Gate(run: (SparkSession, String) => DataFrame, oracleSql: String)

  private val eventOrder = Seq("ts", "event_id")

  private def eventsDs(spark: SparkSession, dir: String): GraftDataset = {
    val df = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = FeatureSchema(
      ColumnSpec.numeric("event_id", ColRole.Identifier),
      ColumnSpec.datetime("ts", ColRole.TimeInfo),
      ColumnSpec.nominal("user_id", ColRole.Identifier),
      ColumnSpec.nominal("event_type"),
      ColumnSpec.numeric("value"))
    GraftDataset(df, schema, eventOrder)
  }

  /** `r6sql("x")` — DuckDB expression identical to [[graft.functions.rounding.r6]]
    * for column/simple exprs.
    */
  private[graft] def r6sql(e: String): String =
    s"CASE WHEN isnan(($e)::DOUBLE) OR NOT isfinite(($e)::DOUBLE) THEN ($e)::DOUBLE " +
      s"ELSE floor(($e)::DOUBLE * 1000000 + 0.5) / 1000000 END"

  /** Window-function features on events via the Pipeline, projected + rounded.
    * `longCols` widens int32 engine outputs to int64 — DuckDB's integer window
    * aggregates come back BIGINT/HUGEINT, and the gate hashes typed values.
    */
  private def eventFeatures(names: Seq[String], build: Pipeline => Pipeline,
      roundCols: Set[String] = Set.empty,
      longCols: Set[String] = Set.empty): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val out = build(Pipeline(eventsDs(spark, dir))).toDF()
      val cols = col("event_id") +: names.map { n =>
        if (roundCols(n)) r6(col(n)).as(n)
        else if (longCols(n)) col(n).cast("long").as(n)
        else col(n)
      }
      out.select(cols: _*).orderBy("event_id")
    }

  /** Oracle wrapper: inner SELECT computes raw feature columns; outer applies the
    * shared rounding to `roundCols` and orders by event_id.
    */
  private def eventOracle(inner: String, names: Seq[String], roundCols: Set[String] = Set.empty): String = {
    val proj = names.map(n => if (roundCols(n)) s"${r6sql(n)} AS $n" else n).mkString(", ")
    s"SELECT event_id, $proj FROM ($inner) ORDER BY event_id"
  }

  // ---------------------------------------------------------------- aggregate / scan

  private val q1Agg = Gate((spark, dir) => {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r6(sum(col("l_quantity"))).as("sum_qty"),
        r6(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }, oracleSql = {
    val inner = "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
      "sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS cnt " +
      "FROM lineitem GROUP BY 1, 2"
    s"SELECT l_returnflag, l_linestatus, ${r6sql("sum_qty")} AS sum_qty, " +
      s"${r6sql("revenue")} AS revenue, cnt FROM ($inner) ORDER BY 1, 2"
  })

  // ------------------------------------------------------------------- window family

  private val qCountOver = Gate(eventFeatures(Seq("count_over_user_id"),
    _.withCount(overColumnsCombinations = Seq(Seq("user_id")))), oracleSql =
    "SELECT event_id, count(*) OVER (PARTITION BY user_id) AS count_over_user_id " +
      "FROM events ORDER BY event_id")

  private val qCumCount = Gate(eventFeatures(
    Seq("inclusive_cum_count_over_user_id", "exclusive_cum_count_over_user_id"),
    p => p.withCount(overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive)
      .withCount(overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Exclusive)), oracleSql =
    "SELECT event_id, row_number() OVER w AS inclusive_cum_count_over_user_id, " +
      "row_number() OVER w - 1 AS exclusive_cum_count_over_user_id " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) ORDER BY event_id")

  private val qCumSum = Gate(eventFeatures(Seq("value_inclusive_cum_sum_over_user_id"),
    _.withArithmeticAggregation("value", Seq(ops.Agg.Sum),
      overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive),
    roundCols = Set("value_inclusive_cum_sum_over_user_id")), oracleSql = eventOracle(
    "SELECT event_id, coalesce(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS value_inclusive_cum_sum_over_user_id FROM events",
    Seq("value_inclusive_cum_sum_over_user_id"), Set("value_inclusive_cum_sum_over_user_id")))

  private val qLag = Gate(eventFeatures(Seq("value_lagged_1_over_user_id"),
    _.withLagged("value", Seq(1), overColumnsCombinations = Seq(Seq("user_id")))), oracleSql =
    "SELECT event_id, lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
      "AS value_lagged_1_over_user_id FROM events ORDER BY event_id")

  private val qFirstValue = Gate(eventFeatures(Seq("value_first_value_where_is_view_over_user_id"),
    _.withFirstValue("value", overColumnsCombinations = Seq(Seq("user_id")),
      filteringCondition = Some(Cond("is_view", col("event_type") === "view")))), oracleSql =
    "SELECT event_id, first_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) " +
      "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
      "AS value_first_value_where_is_view_over_user_id FROM events ORDER BY event_id")

  /** Mode with the reference's largest-value tie-break. */
  private val qMode = Gate(eventFeatures(Seq("event_type_mode_over_user_id"),
    _.withMode("event_type", overColumnsCombinations = Seq(Seq("user_id")))), oracleSql =
    "WITH cnt AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2), " +
      "w AS (SELECT user_id, event_type FROM cnt " +
      "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type DESC) = 1) " +
      "SELECT e.event_id, w.event_type AS event_type_mode_over_user_id " +
      "FROM events e JOIN w USING (user_id) ORDER BY e.event_id")

  private val qNumUnique = Gate(eventFeatures(
    Seq("event_type_num_unique_over_user_id", "event_type_inclusive_cum_num_unique_over_user_id"),
    p => p.withNumUnique("event_type", overColumnsCombinations = Seq(Seq("user_id")))
      .withNumUnique("event_type", overColumnsCombinations = Seq(Seq("user_id")),
        cumulative = Cum.Inclusive),
    longCols = Set("event_type_num_unique_over_user_id",
      "event_type_inclusive_cum_num_unique_over_user_id")), oracleSql =
    // count(DISTINCT) ignores NULLs while the engine counts NULL as a value (Polars
    // n_unique), hence the max(IS NULL) term; ::BIGINT because DuckDB's sum(INTEGER)
    // is HUGEINT and the gate hashes typed values.
    "WITH b AS (SELECT event_id, user_id, ts, event_type, " +
      "CASE WHEN row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1 " +
      "THEN 1 ELSE 0 END AS ifd FROM events) " +
      "SELECT event_id, (count(DISTINCT event_type) OVER (PARTITION BY user_id) " +
      "+ max(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) OVER (PARTITION BY user_id))::BIGINT " +
      "AS event_type_num_unique_over_user_id, " +
      "(sum(ifd) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT " +
      "AS event_type_inclusive_cum_num_unique_over_user_id FROM b ORDER BY event_id")

  private val qEntropy = Gate(eventFeatures(Seq("event_type_by_user_id_entropy"),
    _.withEntityEntropy("user_id", "event_type"),
    roundCols = Set("event_type_by_user_id_entropy")), oracleSql = eventOracle(
    "WITH c AS (SELECT user_id, event_type, count(*)::DOUBLE AS c FROM events GROUP BY 1, 2), " +
      "h AS (SELECT user_id, -sum((c / n) * log2(c / n)) AS h FROM " +
      "(SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS n FROM c) GROUP BY 1) " +
      "SELECT e.event_id, h.h AS event_type_by_user_id_entropy FROM events e JOIN h USING (user_id)",
    Seq("event_type_by_user_id_entropy"), Set("event_type_by_user_id_entropy")))

  private val qPmi = Gate(eventFeatures(Seq("user_id_event_type_pmi"),
    _.withPointwiseMutualInformation("user_id", "event_type"),
    roundCols = Set("user_id_event_type_pmi")), oracleSql = eventOracle(
    "SELECT event_id, log2(((count(*) OVER (PARTITION BY user_id, event_type))::DOUBLE / (count(*) OVER ())::DOUBLE) / " +
      "(((count(*) OVER (PARTITION BY user_id))::DOUBLE / (count(*) OVER ())::DOUBLE) * " +
      "((count(*) OVER (PARTITION BY event_type))::DOUBLE / (count(*) OVER ())::DOUBLE))) " +
      "AS user_id_event_type_pmi FROM events",
    Seq("user_id_event_type_pmi"), Set("user_id_event_type_pmi")))

  private val qRolling = Gate(eventFeatures(
    Seq("count_in_the_last_2d_over_user_id", "value_sum_in_the_last_1h_over_user_id"),
    p => p.withCount(overColumnsCombinations = Seq(Seq("user_id")),
        timeWindows = Seq("2d"), indexColumnName = Some("ts"))
      .withArithmeticAggregation("value", Seq(ops.Agg.Sum),
        overColumnsCombinations = Seq(Seq("user_id")),
        timeWindows = Seq("1h"), indexColumnName = Some("ts")),
    roundCols = Set("value_sum_in_the_last_1h_over_user_id")), oracleSql = eventOracle(
    "SELECT event_id, count(*) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT " +
      "RANGE BETWEEN 172799 PRECEDING AND CURRENT ROW) AS count_in_the_last_2d_over_user_id, " +
      "coalesce(sum(value) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT " +
      "RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 0) AS value_sum_in_the_last_1h_over_user_id FROM events",
    Seq("count_in_the_last_2d_over_user_id", "value_sum_in_the_last_1h_over_user_id"),
    Set("value_sum_in_the_last_1h_over_user_id")))

  private val qMinMaxGroup = Gate(eventFeatures(
    Seq("value_min_over_user_id", "value_max_over_user_id", "value_mean_over_user_id",
      "value_std_over_user_id"),
    _.withArithmeticAggregation("value",
      Seq(ops.Agg.Min, ops.Agg.Max, ops.Agg.Mean, ops.Agg.Std),
      overColumnsCombinations = Seq(Seq("user_id"))),
    roundCols = Set("value_mean_over_user_id", "value_std_over_user_id")), oracleSql = eventOracle(
    "SELECT event_id, min(value) OVER w AS value_min_over_user_id, " +
      "max(value) OVER w AS value_max_over_user_id, " +
      "coalesce(sum(value) OVER w, 0) / count(*) OVER w AS value_mean_over_user_id, " +
      "stddev_samp(value) OVER w AS value_std_over_user_id " +
      "FROM events WINDOW w AS (PARTITION BY user_id)",
    Seq("value_min_over_user_id", "value_max_over_user_id", "value_mean_over_user_id",
      "value_std_over_user_id"),
    Set("value_mean_over_user_id", "value_std_over_user_id")))

  /** The reference's running-std quirk in SQL: sqrt(Σ_{j≤i}(x_j − runningMean_j)²). */
  private val qCumStd = Gate(eventFeatures(Seq("value_inclusive_cum_std_over_user_id"),
    _.withArithmeticAggregation("value", Seq(ops.Agg.Std),
      overColumnsCombinations = Seq(Seq("user_id")), cumulative = Cum.Inclusive),
    roundCols = Set("value_inclusive_cum_std_over_user_id")), oracleSql = eventOracle(
    "WITH m AS (SELECT event_id, user_id, ts, value, " +
      "coalesce(sum(value) OVER w, 0) / row_number() OVER wo AS rm FROM events " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
      "wo AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT event_id, sqrt(coalesce(sum((value - rm) * (value - rm)) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) " +
      "AS value_inclusive_cum_std_over_user_id FROM m",
    Seq("value_inclusive_cum_std_over_user_id"), Set("value_inclusive_cum_std_over_user_id")))

  private val qQuantile = Gate(eventFeatures(
    Seq("value_quantile_25_over_user_id", "value_median_over_user_id"),
    _.withArithmeticAggregation("value", Seq(ops.Agg.Quantile, ops.Agg.Median),
      overColumnsCombinations = Seq(Seq("user_id")), quantiles = Seq(0.25)),
    roundCols = Set("value_quantile_25_over_user_id", "value_median_over_user_id")), oracleSql = eventOracle(
    "SELECT event_id, quantile_cont(value, 0.25) OVER (PARTITION BY user_id) AS value_quantile_25_over_user_id, " +
      "quantile_cont(value, 0.5) OVER (PARTITION BY user_id) AS value_median_over_user_id FROM events",
    Seq("value_quantile_25_over_user_id", "value_median_over_user_id"),
    Set("value_quantile_25_over_user_id", "value_median_over_user_id")))

  private val qSeasonal = Gate(eventFeatures(
    Seq("ts_hour_of_day", "ts_day_of_week", "ts_month_of_year", "ts_day_of_week_angular_sin"),
    p => p.withSeasonal("ts", Seq(ops.Seasonal.HourOfDay, ops.Seasonal.DayOfWeek, ops.Seasonal.MonthOfYear))
      .withSeasonal("ts", Seq(ops.Seasonal.DayOfWeek), periodic = true),
    roundCols = Set("ts_day_of_week_angular_sin")), oracleSql = eventOracle(
    "SELECT event_id, hour(ts) AS ts_hour_of_day, isodow(ts) AS ts_day_of_week, " +
      "month(ts) AS ts_month_of_year, " +
      "sin((isodow(ts) - 1) * 2 * pi() / 7) AS ts_day_of_week_angular_sin FROM events",
    Seq("ts_hour_of_day", "ts_day_of_week", "ts_month_of_year", "ts_day_of_week_angular_sin"),
    Set("ts_day_of_week_angular_sin")))

  private val qScalarMath = Gate((spark, dir) => {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val schema = FeatureSchema(
      ColumnSpec.numeric("l_orderkey", ColRole.Identifier),
      ColumnSpec.numeric("l_linenumber", ColRole.Identifier),
      ColumnSpec.numeric("l_quantity"),
      ColumnSpec.numeric("l_extendedprice"),
      ColumnSpec.numeric("l_discount"))
    val ds = GraftDataset(li.select("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount"), schema, Seq("l_orderkey", "l_linenumber"))
    val out = Pipeline(ds)
      .withPolynomial("l_quantity", Seq(2))
      .withLog("l_extendedprice", Seq(math.E, 10))
      .withGoniometric("l_quantity", Seq(ops.Gon.Sin, ops.Gon.Cos))
      .withArithmetic("l_extendedprice", "l_quantity", Seq(ops.Arithmetic.Divide))
      .withComparison("l_quantity", "l_discount", Seq(ops.Comparison.GreaterThan))
      .toDF()
    val rc = Seq("l_quantity_pow_2", "l_extendedprice_ln", "l_extendedprice_log10",
      "l_quantity_sin", "l_quantity_cos", "l_extendedprice_divide_l_quantity")
    out.select(col("l_orderkey") +: col("l_linenumber") +:
      (rc.map(n => r6(col(n)).as(n)) :+ col("l_quantity_greater_than_l_discount")): _*)
      .orderBy("l_orderkey", "l_linenumber")
  }, oracleSql = {
    val inner = "SELECT l_orderkey, l_linenumber, pow(l_quantity, 2) AS l_quantity_pow_2, " +
      "ln(l_extendedprice) AS l_extendedprice_ln, log10(l_extendedprice) AS l_extendedprice_log10, " +
      "sin(l_quantity) AS l_quantity_sin, cos(l_quantity) AS l_quantity_cos, " +
      "l_extendedprice / l_quantity AS l_extendedprice_divide_l_quantity, " +
      "l_quantity > l_discount AS l_quantity_greater_than_l_discount FROM lineitem"
    val rc = Seq("l_quantity_pow_2", "l_extendedprice_ln", "l_extendedprice_log10",
      "l_quantity_sin", "l_quantity_cos", "l_extendedprice_divide_l_quantity")
    s"SELECT l_orderkey, l_linenumber, ${rc.map(n => s"${r6sql(n)} AS $n").mkString(", ")}, " +
      s"l_quantity_greater_than_l_discount FROM ($inner) ORDER BY l_orderkey, l_linenumber"
  })

  private val qScaling = Gate(eventFeatures(
    Seq("value_standard_scaled", "value_minmax_scaled"),
    _.withScaling("value", Seq(ops.Scaling.Standard, ops.Scaling.MinMax)),
    roundCols = Set("value_standard_scaled", "value_minmax_scaled")), oracleSql = eventOracle(
    "SELECT event_id, (value - avg(value) OVER ()) / stddev_samp(value) OVER () AS value_standard_scaled, " +
      "(value - min(value) OVER ()) / (max(value) OVER () - min(value) OVER ()) AS value_minmax_scaled FROM events",
    Seq("value_standard_scaled", "value_minmax_scaled"),
    Set("value_standard_scaled", "value_minmax_scaled")))

  // ------------------------------------------------------------- web-scale operators

  /** As-of backfill: latest order at-or-before (before when `strict`) each event, per
    * user. The right side is pre-deduplicated per (key, ts) — as-of is ambiguous under
    * timestamp ties.
    */
  private def asofVariant(spark: SparkSession, dir: String, strict: Boolean,
      tolerance: Option[Long]): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet").select("event_id", "ts", "user_id")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    graft.web.AsOfJoin.backward(events, orders, Seq("user_id"), "ts",
        Seq("o_custkey"), "o_orderdate", Seq("o_orderdate", "o_orderkey"),
        strict = strict, tolerance = tolerance)
      .select(col("event_id"),
        col("o_orderdate").cast("timestamp").cast("long").as("matched_epoch"),
        col("o_orderkey")).orderBy("event_id")
  }

  private val asofSql =
    "WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2) " +
      "SELECT e.event_id, floor(epoch(o.o_orderdate))::BIGINT AS matched_epoch, o.o_orderkey " +
      "FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate " +
      "ORDER BY e.event_id"
  private val qAsof = Gate((s, d) => asofVariant(s, d, strict = false, tolerance = None), asofSql)
  private val qAsofBucketed =
    Gate((s, d) => asofVariant(s, d, strict = false, tolerance = None), asofSql)

  private val qSessionize = Gate((spark, dir) => {
    val events = spark.read.parquet(s"$dir/events.parquet").select("event_id", "ts", "user_id")
    graft.web.Sessionize.withSessionIds(events, Seq("user_id"), "ts", 3600L,
        orderBy = eventOrder)
      .select(col("event_id"), col("session_id"), col("session_event_idx"), col("session_gap_seconds"))
      .orderBy("event_id")
  }, oracleSql =
    // (ts, event_id) tie-break in every window so duplicate timestamps stay
    // deterministic; session_id's sum(INTEGER) is HUGEINT in DuckDB → ::BIGINT
    "WITH g AS (SELECT event_id, user_id, ts, " +
      "floor(epoch(ts))::BIGINT - floor(epoch(lag(ts, 1) OVER w))::BIGINT AS session_gap_seconds, " +
      "CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts, 1) OVER w))::BIGINT IS NULL " +
      "OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts, 1) OVER w))::BIGINT > 3600 THEN 1 ELSE 0 END AS is_new " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT *, (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS session_id FROM g) " +
      "SELECT event_id, session_id, " +
      "(row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) - 1)::BIGINT AS session_event_idx, " +
      "session_gap_seconds FROM s ORDER BY event_id")

  private val qSessionStats = Gate((spark, dir) => {
    val events = spark.read.parquet(s"$dir/events.parquet").select("event_id", "ts", "user_id")
    graft.web.Sessionize.sessionStats(events, Seq("user_id"), "ts", 3600L,
        orderBy = eventOrder)
      .select(col("user_id"), col("session_id"), col("session_num_events"),
        col("session_duration_seconds"))
      .orderBy("user_id", "session_id")
  }, oracleSql =
    "WITH g AS (SELECT user_id, ts, CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts, 1) " +
      "OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT IS NULL OR " +
      "floor(epoch(ts))::BIGINT - floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT > 3600 " +
      "THEN 1 ELSE 0 END AS is_new, event_id FROM events), " +
      "s AS (SELECT *, (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS session_id FROM g) " +
      "SELECT user_id, session_id, count(*) AS session_num_events, " +
      "max(floor(epoch(ts))::BIGINT) - min(floor(epoch(ts))::BIGINT) AS session_duration_seconds " +
      "FROM s GROUP BY 1, 2 ORDER BY 1, 2")

  private val qAsofStrict = Gate(
    (s, d) => asofVariant(s, d, strict = true, tolerance = None), oracleSql =
    "WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2) " +
      "SELECT e.event_id, floor(epoch(o.o_orderdate))::BIGINT AS matched_epoch, o.o_orderkey " +
      "FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts > o.o_orderdate " +
      "ORDER BY e.event_id")

  private val qAsofTolerance = Gate(
    (s, d) => asofVariant(s, d, strict = false, tolerance = Some(30L * 86400L)), oracleSql =
    "WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2), " +
      "j AS (SELECT e.event_id, o.o_orderdate, o.o_orderkey, " +
      "floor(epoch(e.ts))::BIGINT - floor(epoch(o.o_orderdate))::BIGINT AS age " +
      "FROM events e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate) " +
      "SELECT event_id, CASE WHEN age <= 2592000 THEN floor(epoch(o_orderdate))::BIGINT END AS matched_epoch, " +
      "CASE WHEN age <= 2592000 THEN o_orderkey END AS o_orderkey FROM j ORDER BY event_id")

  /** Keyed range join: every OTHER event of the same user within the trailing 24h —
    * the bucketed equality formulation vs DuckDB's native inequality join. A self-join
    * on events keeps the gate NON-VACUOUS (the r2 events×orders variant matched 0 rows:
    * the synthetic tables are ~23 years apart) and exercises the bucketing for real —
    * the events span ~30 days, so ~30 one-day buckets and the ≤2-bucket left explode
    * all carry rows (≈22k matched pairs at sf0.01).
    */
  private val qRangeJoin = Gate((spark, dir) => {
    val events = spark.read.parquet(s"$dir/events.parquet").select("event_id", "ts", "user_id")
    val others = events.select(col("event_id").as("o_event_id"), col("ts"), col("user_id"))
    graft.web.RangeJoin.byKeyAndTime(events, others, Seq("user_id"), "ts",
        Seq("user_id"), "ts", beforeSeconds = 86400L, afterSeconds = 0L,
        valueCols = Seq("o_event_id"))
      .where(col("o_event_id") =!= col("event_id"))
      .select(col("event_id"), col("o_event_id"))
      .orderBy("event_id", "o_event_id")
  }, oracleSql =
    "SELECT e.event_id, o.event_id AS o_event_id FROM events e JOIN events o ON e.user_id = o.user_id " +
      "AND o.event_id != e.event_id AND floor(epoch(o.ts))::BIGINT " +
      "BETWEEN floor(epoch(e.ts))::BIGINT - 86400 AND floor(epoch(e.ts))::BIGINT " +
      "ORDER BY 1, 2")

  /** URL canonicalization on planted messy urls (uppercase authority, tracking
    * params, fragments, trailing slashes) built identically in both engines.
    */
  private val qUrlCanon = Gate((spark, dir) => {
    val d = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id").where(col("event_id") < 2000)
    val messy1 = concat(lit("HTTPS://Example.COM/Path"), col("event_id"),
      lit("/?utm_source=x&q="), col("event_id"), lit("&fbclid=zz#frag"))
    val messy2 = concat(lit("http://WWW.Site.ORG:8080/a/"), col("event_id"),
      lit("/?utm_campaign=c"))
    d.select(col("event_id"),
        graft.web.UrlOps.canonicalizeUrl(messy1).as("canon1"),
        graft.web.UrlOps.canonicalizeUrl(messy2).as("canon2"))
      .orderBy("event_id")
  }, oracleSql = {
    // the same four rules in DuckDB, applied to the same planted strings
    def canon(raw: String): String = {
      val noFrag = s"regexp_replace($raw, '#.*$$', '')"
      val head = s"lower(regexp_extract($noFrag, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))"
      val path = s"regexp_extract($noFrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
      val query = s"regexp_extract($noFrag, '\\?([^#]*)', 1)"
      val kept = s"list_filter(string_split($query, '&'), " +
        s"p -> length(p) > 0 AND NOT regexp_matches(p, '^(utm_[a-zA-Z0-9_]*|gclid|fbclid)='))"
      val canonPath = s"CASE WHEN $path IN ('', '/') THEN '/' ELSE regexp_replace($path, '/$$', '') END"
      s"$head || $canonPath || CASE WHEN len($kept) > 0 THEN '?' || array_to_string($kept, '&') ELSE '' END"
    }
    val m1 = "'HTTPS://Example.COM/Path' || event_id || '/?utm_source=x&q=' || event_id || '&fbclid=zz#frag'"
    val m2 = "'http://WWW.Site.ORG:8080/a/' || event_id || '/?utm_campaign=c'"
    s"SELECT event_id, ${canon(m1)} AS canon1, ${canon(m2)} AS canon2 " +
      "FROM events WHERE event_id < 2000 ORDER BY event_id"
  })

  /** Inclusive cumulative entity entropy — the incremental identity in both engines. */
  private val qCumEntropy = Gate(eventFeatures(Seq("event_type_by_user_id_inclusive_cum_entropy"),
    _.withEntityEntropy("user_id", "event_type", cumulative = Cum.Inclusive),
    roundCols = Set("event_type_by_user_id_inclusive_cum_entropy")), oracleSql = eventOracle(
    "WITH b AS (SELECT event_id, user_id, ts, " +
      "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)::DOUBLE AS c, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::DOUBLE AS n FROM events), " +
      "t AS (SELECT event_id, user_id, ts, n, CASE WHEN c = 1 THEN 0 " +
      "ELSE c * log2(c) - (c - 1) * log2(c - 1) END AS delta FROM b) " +
      "SELECT event_id, log2(n) - sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / n AS event_type_by_user_id_inclusive_cum_entropy FROM t",
    Seq("event_type_by_user_id_inclusive_cum_entropy"),
    Set("event_type_by_user_id_inclusive_cum_entropy")))

  /** Rolling PMI over a 7-day window — counts lower to range frames in both engines. */
  private val qRollingPmi = Gate(eventFeatures(Seq("user_id_event_type_pmi_in_the_last_7d"),
    _.withPointwiseMutualInformation("user_id", "event_type",
      timeWindows = Seq("7d"), indexColumnName = Some("ts")),
    roundCols = Set("user_id_event_type_pmi_in_the_last_7d")), oracleSql = eventOracle(
    "WITH b AS (SELECT event_id, " +
      "count(*) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)::DOUBLE AS ca, " +
      "count(*) OVER (PARTITION BY event_type ORDER BY floor(epoch(ts))::BIGINT RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)::DOUBLE AS cb, " +
      "count(*) OVER (PARTITION BY user_id, event_type ORDER BY floor(epoch(ts))::BIGINT RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)::DOUBLE AS cab, " +
      "count(*) OVER (ORDER BY floor(epoch(ts))::BIGINT RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)::DOUBLE AS n FROM events) " +
      "SELECT event_id, log2((cab / n) / ((ca / n) * (cb / n))) AS user_id_event_type_pmi_in_the_last_7d FROM b",
    Seq("user_id_event_type_pmi_in_the_last_7d"), Set("user_id_event_type_pmi_in_the_last_7d")))

  /** Grouped argmin/argmax: value of the arg column at the group's extreme, first row
    * (in event-time order) winning ties.
    */
  private val qArgExtreme = Gate(eventFeatures(
    Seq("argmin_of_value_by_event_type_over_user_id", "argmax_of_value_by_event_type_over_user_id"),
    p => p.withArgmin("value", "event_type", overColumnsCombinations = Seq(Seq("user_id")))
      .withArgmax("value", "event_type", overColumnsCombinations = Seq(Seq("user_id")))), oracleSql = eventOracle(
    "SELECT event_id, " +
      "first_value(event_type) OVER (PARTITION BY user_id ORDER BY value ASC NULLS LAST, ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS argmin_of_value_by_event_type_over_user_id, " +
      "first_value(event_type) OVER (PARTITION BY user_id ORDER BY value DESC NULLS LAST, ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS argmax_of_value_by_event_type_over_user_id " +
      "FROM events",
    Seq("argmin_of_value_by_event_type_over_user_id", "argmax_of_value_by_event_type_over_user_id")))

  // ------------------------------------------------------------- feature selection

  /** Shared selector input: label = value > 40, numeric/boolean/ordinal/nominal
    * features derived deterministically from the events table. Both engines build
    * the identical frame; the gates compare each method's per-feature statistic AND
    * the ranked order (stat desc, name asc — the reference's tie-break).
    */
  private def selectorDs(spark: SparkSession, dir: String): GraftDataset = {
    val df = spark.read.parquet(s"$dir/events.parquet").select(
      (col("value") > 40.0).as("label"),
      hour(col("ts")).cast("double").as("f_hour"),
      log(col("event_id").cast("double") + 1).as("f_loge"),
      pmod(col("user_id"), lit(10)).cast("double").as("f_umod"),
      col("event_type").as("f_etype"),
      (col("event_id") % 2 === 0).as("f_parity"),
      pmod(col("user_id"), lit(3)).cast("int").as("f_ubucket"))
    val schema = FeatureSchema(
      ColumnSpec.boolean("label", ColRole.Label),
      ColumnSpec.numeric("f_hour"),
      ColumnSpec.numeric("f_loge"),
      ColumnSpec.numeric("f_umod"),
      ColumnSpec.nominal("f_etype"),
      ColumnSpec.boolean("f_parity"),
      ColumnSpec.ordinal("f_ubucket"))
    GraftDataset(df, schema, Nil)
  }
  // the same derived columns in DuckDB (l kept boolean; numeric casts at use sites)
  private val selectorBaseSql =
    "SELECT (value > 40.0) AS l, hour(ts)::DOUBLE AS f_hour, " +
      "ln(event_id::DOUBLE + 1) AS f_loge, (user_id % 10)::DOUBLE AS f_umod, " +
      "event_type AS f_etype, ((event_id % 2) = 0) AS f_parity, " +
      "(user_id % 3) AS f_ubucket FROM events"

  private def qSelect(method: SelectionMethod,
      feats: Seq[String]): (SparkSession, String) => DataFrame = (spark, dir) => {
    import graft.selection.FeatureSelector
    val report = FeatureSelector.getReport(selectorDs(spark, dir),
      ColumnSelection.Many(feats.map(ColumnSelection.ByName(_))), method)
    // rank on the 6-dp-ROUNDED stat (name tie-break stays): the two engines agree on
    // the raw stat only to float drift, so an unrounded rank could flip on near-tied
    // features — rounding first makes such ties exact, then the name breaks them
    // identically on both sides (the oracle ranks on the same rounded value)
    def r6d(s: Double): Double =
      if (s.isNaN || s.isInfinite) s else math.floor(s * 1e6 + 0.5) / 1e6
    val rankOf = FeatureSelector.selectFeatures(
        report.copy(stats = report.stats.map { case (f, s) => f -> r6d(s) }),
        topK = Some(feats.size))
      .zipWithIndex.map { case (f, i) => f -> (i + 1L) }.toMap
    import spark.implicits._
    report.stats.map { case (f, s) => (f, s, rankOf(f)) }.toDF("feature", "stat", "rank")
      .select(col("feature"), r6(col("stat")).as("stat"), col("rank"))
      .orderBy("feature")
  }

  /** NaN/NULL → 0 like the engine's fills, then rank + round. `preCtes` is an
    * optional extra CTE chain (each entry comma-terminated) between the shared base
    * table `b` and the per-feature stat rows `t` — the single definition of the
    * fill/rank/projection tail keeps all three method oracles on one rule. The rank
    * orders by the ROUNDED stat, mirroring the engine-side gate (see [[qSelect]]).
    */
  private def selectorRankSql(statRows: String, preCtes: String = ""): String =
    s"WITH b AS ($selectorBaseSql), ${preCtes}t AS ($statRows), " +
      "u AS (SELECT feature, CASE WHEN stat IS NULL OR isnan(stat) THEN 0.0 ELSE stat END AS stat FROM t), " +
      s"r AS (SELECT feature, stat, row_number() OVER (ORDER BY ${r6sql("stat")} DESC, feature ASC) AS rank FROM u) " +
      s"SELECT feature, ${r6sql("stat")} AS stat, rank FROM r ORDER BY feature"

  private val corrFeats = Seq("f_hour", "f_loge", "f_parity", "f_umod")
  private val qSelectCorr = Gate(qSelect(SelectionMethod.Correlation, corrFeats),
    oracleSql = selectorRankSql(corrFeats.map { f =>
      val fd = if (f == "f_parity") s"$f::INT::DOUBLE" else f
      s"SELECT '$f' AS feature, abs(corr($fd, l::INT::DOUBLE)) AS stat FROM b"
    }.mkString(" UNION ALL ")))

  private val qSelectTtest = Gate(qSelect(SelectionMethod.TTest, corrFeats), oracleSql = {
    val perClass = corrFeats.flatMap { f =>
      val fd = if (f == "f_parity") s"$f::INT::DOUBLE" else f
      Seq(s"avg($fd) FILTER (WHERE l) AS mt_$f", s"var_samp($fd) FILTER (WHERE l) AS vt_$f",
        s"avg($fd) FILTER (WHERE NOT l) AS mf_$f", s"var_samp($fd) FILTER (WHERE NOT l) AS vf_$f")
    } ++ Seq("count(*) FILTER (WHERE l)::DOUBLE AS nt", "count(*) FILTER (WHERE NOT l)::DOUBLE AS nf")
    val statRows = corrFeats.map(f =>
      s"SELECT '$f' AS feature, abs(mt_$f - mf_$f) / sqrt(vt_$f / nt + vf_$f / nf) AS stat FROM s")
      .mkString(" UNION ALL ")
    // Welch statistic from one per-class aggregation pass, like the engine
    selectorRankSql(statRows, preCtes = s"s AS (SELECT ${perClass.mkString(", ")} FROM b), ")
  })

  private val chi2Feats = Seq("f_etype", "f_parity", "f_ubucket")
  private val qSelectChi2 = Gate(qSelect(SelectionMethod.ChiSquared, chi2Feats), oracleSql = {
    // melt → one contingency pass → χ² = Σ (o−e)²/e over the FULL row×col cross
    // (zero-observed cells contribute e), mirroring the engine's single-groupBy fold
    val melted = chi2Feats.map(f =>
      s"SELECT '$f' AS feature, $f::VARCHAR AS v, l::VARCHAR AS lv FROM b").mkString(" UNION ALL ")
    val contingency = s"m AS ($melted), " +
      "ct AS (SELECT feature, v, lv, count(*)::DOUBLE AS o FROM m GROUP BY 1, 2, 3), " +
      "tot AS (SELECT feature, sum(o) AS t FROM ct GROUP BY 1), " +
      "rt AS (SELECT feature, v, sum(o) AS r FROM ct GROUP BY 1, 2), " +
      "cl AS (SELECT feature, lv, sum(o) AS c FROM ct GROUP BY 1, 2), " +
      "cells AS (SELECT rt.feature, rt.v, cl.lv, rt.r * cl.c / tot.t AS e, coalesce(ct.o, 0.0) AS o " +
      "FROM rt JOIN cl ON rt.feature = cl.feature JOIN tot ON tot.feature = rt.feature " +
      "LEFT JOIN ct ON ct.feature = rt.feature AND ct.v = rt.v AND ct.lv = cl.lv), "
    selectorRankSql(
      "SELECT feature, sum((o - e) * (o - e) / e) AS stat FROM cells WHERE e > 0 GROUP BY 1",
      preCtes = contingency)
  })

  // -------------------------------------------------- r3 gates for golden-only items

  /** Grouped z-score (raw value, group stats — the reference's filtered-stats rule).
    * IEEE division is emulated in the oracle (DuckDB's / yields NULL on zero).
    */
  private val qZscore = Gate(eventFeatures(Seq("value_z_score_over_user_id"),
    _.withArithmeticAggregation("value", Seq(ops.Agg.Zscore),
      overColumnsCombinations = Seq(Seq("user_id"))),
    roundCols = Set("value_z_score_over_user_id")), oracleSql = eventOracle(
    "WITH b AS (SELECT event_id, value, " +
      "value - sum(value) OVER w / count(*) OVER w AS num, stddev_samp(value) OVER w AS std " +
      "FROM events WINDOW w AS (PARTITION BY user_id)) " +
      "SELECT event_id, CASE WHEN std IS NULL OR isnan(num) THEN 'NaN'::DOUBLE " +
      "WHEN std = 0 THEN (CASE WHEN num = 0 THEN 'NaN'::DOUBLE WHEN num > 0 THEN 'Infinity'::DOUBLE " +
      "ELSE '-Infinity'::DOUBLE END) ELSE num / std END AS value_z_score_over_user_id FROM b",
    Seq("value_z_score_over_user_id"), Set("value_z_score_over_user_id")))

  /** Time diff in truncating s/h/d units over a derived second timestamp (ts +
    * event_id % 90000 s, built identically in both engines). Hour/day truncation is
    * toward zero (Spark double→long cast) = DuckDB trunc on these positive diffs.
    */
  private val qTimeDiff = Gate((spark, dir) => {
    val df = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        (col("ts").cast("timestamp").cast("long") + col("event_id") % 90000)
          .cast("timestamp").as("ts2"))
    val schema = FeatureSchema(
      ColumnSpec.numeric("event_id", ColRole.Identifier),
      ColumnSpec.datetime("ts", ColRole.TimeInfo),
      ColumnSpec.datetime("ts2"))
    val names = Seq("ts2_total_seconds_diff_ts", "ts2_total_hours_diff_ts", "ts2_total_days_diff_ts")
    val out = Seq("s", "h", "d").foldLeft(Pipeline(GraftDataset(df, schema, Seq("ts", "event_id")))) {
      case (p, u) => p.withTimeDiff("ts2", "ts", unit = u)
    }.toDF()
    out.select((col("event_id") +: names.map(col)): _*).orderBy("event_id")
  }, oracleSql =
    "WITH b AS (SELECT event_id, event_id % 90000 AS secs FROM events) " +
      "SELECT event_id, secs AS ts2_total_seconds_diff_ts, " +
      "trunc(secs::DOUBLE / 3600)::BIGINT AS ts2_total_hours_diff_ts, " +
      "trunc(secs::DOUBLE / 86400)::BIGINT AS ts2_total_days_diff_ts " +
      "FROM b ORDER BY event_id")

  /** Text-extraction family: length, email domain (null on no-match — planted on
    * every third doc only), and count-matches on a char-class (codegen'd fast path),
    * a punctuation class, and a real regex (consecutive digits).
    */
  private val qTextFeatures = Gate((spark, dir) => {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") < 500)
    val t = when(col("doc_id") % 3 === 0,
      concat(substring(col("text"), 1, 20), lit(" user"), col("doc_id"),
        lit("@ex-"), col("doc_id"), lit(".org")))
      .otherwise(substring(col("text"), 1, 20))
    val df = base.select(col("doc_id"), t.as("t"))
    val schema = FeatureSchema(
      ColumnSpec.numeric("doc_id", ColRole.Identifier),
      ColumnSpec.text("t"))
    val out = Pipeline(GraftDataset(df, schema, Seq("doc_id")))
      .withTextExtraction("t", Seq(ops.TextExtract.Length, ops.TextExtract.EmailDomain,
        ops.TextExtract.CharacterEntropy))
      .withTextCountMatches("t", Seq("""\d""", """[.,;:!?]""", """\d{3,}"""))
      .toDF()
    out.select(col("doc_id"), col("t_length_chars").cast("long").as("t_length_chars"),
        col("t_email_domain"), r6(col("t_character_entropy")).as("t_character_entropy"),
        col("t_count_digits").cast("long").as("t_count_digits"),
        col("t_count_punctuation").cast("long").as("t_count_punctuation"),
        col("t_count_consecutive_digits").cast("long").as("t_count_consecutive_digits"))
      .orderBy("doc_id")
  }, oracleSql =
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 " +
      "THEN substr(text, 1, 20) || ' user' || doc_id || '@ex-' || doc_id || '.org' " +
      "ELSE substr(text, 1, 20) END AS t FROM documents WHERE doc_id < 500), " +
      // -Σ p·log2(p) over per-code-point frequencies (summation order differs from
      // the engine's sorted fold; r6 absorbs the last-ulp drift)
      """cf AS (SELECT doc_id, count(*)::DOUBLE AS cnt FROM (SELECT doc_id, unnest(regexp_extract_all(t, '[\s\S]')) AS ch FROM d) GROUP BY doc_id, ch), """ +
      "cp AS (SELECT doc_id, cnt / sum(cnt) OVER (PARTITION BY doc_id) AS p FROM cf), " +
      "ent AS (SELECT doc_id, -sum(p * log2(p)) AS ch_ent FROM cp GROUP BY doc_id) " +
      "SELECT d.doc_id, length(t) AS t_length_chars, " +
      "nullif(regexp_extract(t, '@(.+)$', 1), '') AS t_email_domain, " +
      s"${r6sql("coalesce(ch_ent, 0.0)")} AS t_character_entropy, " +
      """length(regexp_extract_all(t, '\d')) AS t_count_digits, """ +
      "length(regexp_extract_all(t, '[.,;:!?]')) AS t_count_punctuation, " +
      """length(regexp_extract_all(t, '\d{3,}')) AS t_count_consecutive_digits """ +
      "FROM d LEFT JOIN ent ON ent.doc_id = d.doc_id ORDER BY d.doc_id")

  /** GLOBAL running aggregates via the scalable prefix operator (range ids + a
    * running window per range + broadcast offsets — graft.web.PrefixAgg) against
    * DuckDB's sequential global window. Forces several range partitions so the
    * cross-partition offset arithmetic is actually exercised at gate scale.
    */
  private val qGlobalCum = Gate((spark, dir) => {
    import graft.web.PrefixAgg
    import graft.web.PrefixAgg.{Op, RunningSpec}
    val df = spark.read.parquet(s"$dir/events.parquet")
    PrefixAgg.running(df, Seq("ts", "event_id"), Seq(
        PrefixAgg.runningCount("cum_count"),
        RunningSpec(Op.Sum, "value", "cum_value_sum"),
        RunningSpec(Op.Min, "value", "cum_value_min"),
        RunningSpec(Op.Max, "value", "cum_value_max")),
      numRanges = 16)
      .select(col("event_id"), col("cum_count"), r6(col("cum_value_sum")).as("cum_value_sum"),
        col("cum_value_min"), col("cum_value_max"))
      .orderBy("event_id")
  }, oracleSql =
    "SELECT event_id, count(*) OVER w AS cum_count, " +
      s"${r6sql("sum(value) OVER w")} AS cum_value_sum, " +
      "min(value) OVER w AS cum_value_min, max(value) OVER w AS cum_value_max " +
      "FROM events WINDOW w AS (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "ORDER BY event_id")

  // ----------------------------------------------------------------------- registry

  val gates: Map[String, Gate] = Map(
    "q_global_cum" -> qGlobalCum,
    "q1_agg" -> q1Agg,
    "q_count_over" -> qCountOver,
    "q_cum_count" -> qCumCount,
    "q_cum_sum" -> qCumSum,
    "q_lag" -> qLag,
    "q_first_value" -> qFirstValue,
    "q_mode" -> qMode,
    "q_num_unique" -> qNumUnique,
    "q_entropy" -> qEntropy,
    "q_pmi" -> qPmi,
    "q_rolling" -> qRolling,
    "q_minmax_group" -> qMinMaxGroup,
    "q_cum_std" -> qCumStd,
    "q_quantile" -> qQuantile,
    "q_seasonal" -> qSeasonal,
    "q_scalar_math" -> qScalarMath,
    "q_scaling" -> qScaling,
    "q_asof" -> qAsof,
    // name kept for the Bench/Verify contract; the gate now runs the same path as q_asof
    "q_asof_bucketed" -> qAsofBucketed,
    "q_sessionize" -> qSessionize,
    "q_session_stats" -> qSessionStats,
    "q_asof_strict" -> qAsofStrict,
    "q_asof_tolerance" -> qAsofTolerance,
    "q_range_join" -> qRangeJoin,
    "q_url_canon" -> qUrlCanon,
    "q_cum_entropy" -> qCumEntropy,
    "q_rolling_pmi" -> qRollingPmi,
    "q_arg_extreme" -> qArgExtreme,
    "q_select_corr" -> qSelectCorr,
    "q_select_ttest" -> qSelectTtest,
    "q_select_chi2" -> qSelectChi2,
    "q_zscore" -> qZscore,
    "q_time_diff" -> qTimeDiff,
    "q_text_features" -> qTextFeatures)

  private val allGates = gates ++ DataQueries.gates
  val all: Map[String, (SparkSession, String) => DataFrame] = allGates.map { case (n, g) => n -> g.run }
  val oracles: Map[String, String] = allGates.map { case (n, g) => n -> g.oracleSql }
}
