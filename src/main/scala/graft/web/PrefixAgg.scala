package graft.web

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq

/** Globally-ordered running (prefix) aggregates WITHOUT a whole-table
  * single-partition window.
  *
  * `sum(x) OVER (ORDER BY …)` with no partition keys funnels the entire table
  * through one task in Spark — the one construct that cannot survive a scale-up.
  * But a global running aggregate is a classic two-level prefix computation:
  *
  *  1. split the key space into contiguous RANGES and group rows by range id;
  *  2. a running window per range (`ROWS UNBOUNDED PRECEDING`, partitioned by
  *     range id): Spark's `WindowExec` updates it once per row over the range's
  *     sorted rows, so the operator stays in the plan and in its SQLMetrics;
  *  3. aggregate one total row per range (after the range shuffle, in row order),
  *     prefix those P rows with an ordinary window (P = range count, so the
  *     "single partition" there is a few KB), broadcast-join the per-range
  *     offsets back, and combine.
  *
  * DETERMINISM: the range id is a PURE FUNCTION of the row — a codegen'd binary
  * search over quantile bounds computed once up front — NOT `spark_partition_id()`
  * over `repartitionByRange`. That distinction is load-bearing: Spark's
  * `RangePartitioner` samples its bounds with an RDD-id-derived seed, so the two
  * plan branches that consume the sorted frame (the running window and the totals
  * aggregate) can recompute the exchange with DIFFERENT bounds, silently
  * misaligning rows and offsets (observed: ~94% of rows wrong at sf0.01). A
  * column-derived range id is identical on every recomputation by construction.
  *
  * EAGER at plan time: one `approxQuantile` job over the (column-pruned) leading
  * order key computes the bounds — same contract as `Ann.assign`'s centroid
  * collect; pass a cached frame if the upstream is expensive.
  *
  * Semantics match `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` over the
  * total order `orderBy`: Count counts rows; Sum/Min/Max skip nulls and are null
  * until the first non-null value. Min/Max follow Spark's ordering: NaN is the
  * greatest value, and -0.0 equals 0.0, so of two tied zeros the one first in
  * `orderBy` wins. `orderBy` must be a total order (include a unique tie-breaker)
  * — the engine-wide contract for running features.
  * The leading order column must be numeric or a timestamp (it defines the range
  * key; timestamps bucket at one-second granularity, which preserves contiguity
  * because truncation is monotone). Sum over doubles reassociates once per range
  * boundary (offset + local), so the last ulp can differ from a sequential window —
  * the oracle gate compares at 6 dp like every float gate.
  */
object PrefixAgg {

  sealed trait Op
  object Op {
    case object Count extends Op
    case object Sum extends Op
    case object Min extends Op
    case object Max extends Op
  }

  /** One running output: `op` over `input` (ignored for Count), named `out`. */
  final case class RunningSpec(op: Op, input: String, out: String)

  def runningCount(out: String): RunningSpec = RunningSpec(Op.Count, "", out)

  /** Deterministic bucket of `v` among sorted `bounds`: the count of bounds
    * strictly below `v`, i.e. range r = (bounds(r-1), bounds(r)]. Monotone in `v`,
    * so concatenating buckets in id order is the global key order.
    */
  def bucketOf(v: Double, bounds: ArraySeq.ofDouble): Int = {
    val i = java.util.Arrays.binarySearch(bounds.unsafeArray, v)
    if (i >= 0) i else -i - 1
  }

  /** [[bucketOf]] over `ranges`-quantile bounds of `key` (one eager `approxQuantile`
    * job). An `ArraySeq` of bounds makes equal builds plan-equal and prints its values.
    */
  private[graft] def rangeId(df: DataFrame, key: Column, ranges: Int): Column = {
    val keyName = "__graft_prefix_key"
    val probs = (1 until ranges).map(_.toDouble / ranges).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else df.select(key.as(keyName)).stat
        .approxQuantile(keyName, probs, 1.0 / math.max(100, 10 * ranges))
        .distinct.sorted
    if (bounds.isEmpty) lit(0)
    else graft.functions.KernelCall(PrefixAgg, "bucketOf", IntegerType, key,
      new ArraySeq.ofDouble(bounds))
  }

  def running(df: DataFrame, orderBy: Seq[String], specs: Seq[RunningSpec],
      numRanges: Int = 0): DataFrame = {
    require(orderBy.nonEmpty, "orderBy must be a (total) order — include a unique tie-breaker")
    require(specs.nonEmpty, "need at least one RunningSpec")
    require(specs.map(_.out).distinct.size == specs.size, "duplicate output names")
    require(numRanges >= 0, s"numRanges must be >= 0 (0 = derive from conf), got $numRanges")
    val spark = df.sparkSession
    val ranges =
      if (numRanges > 0) numRanges
      // the conf may be non-numeric on some platforms (e.g. "auto"): fall back to the
      // cluster's default parallelism rather than throwing NumberFormatException
      else spark.conf.get("spark.sql.shuffle.partitions").toIntOption
        .getOrElse(spark.sparkContext.defaultParallelism)

    // deterministic range id from quantile bounds of the leading order key
    val headField = df.schema(orderBy.head)
    val keyD: Column = headField.dataType match {
      case TimestampType | TimestampNTZType | DateType =>
        // one-second granularity; truncation is monotone so contiguity holds
        col(orderBy.head).cast("timestamp").cast("long").cast("double")
      case _: NumericType => col(orderBy.head).cast("double")
      case t => throw new IllegalArgumentException(
        s"leading order column must be numeric or timestamp for range bucketing, got $t")
    }
    val rid = "__graft_prefix_rid"

    // numeric inputs pre-cast to double (Count needs no input column at all)
    val inName: Map[String, String] = specs.collect {
      case s if s.op != Op.Count => s.out -> s"__graft_prefix_in_${s.out}"
    }.toMap
    val grouped = df
      .withColumns(specs.collect { case s if s.op != Op.Count =>
        inName(s.out) -> col(s.input).cast("double")
      }.toMap)
      .withColumn(rid, rangeId(df, keyD, ranges))
      .repartition(ranges, col(rid))
      // several ranges may hash into one task; the (rid, order) sort feeds both the
      // range-local window and the in-order totals below
      .sortWithinPartitions(col(rid) +: orderBy.map(col): _*)

    // ---- 2) range-local running values: Spark's running window per range, one
    //      incremental update per row. It reads the (rid, order) sort above, so
    //      the window adds no exchange and no second sort.
    val wLocal = Window.partitionBy(col(rid)).orderBy(orderBy.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def agg(s: RunningSpec): Column = s.op match {
      case Op.Count => count(lit(1))
      case Op.Sum   => sum(col(inName(s.out)))
      case Op.Min   => min(col(inName(s.out)))
      case Op.Max   => max(col(inName(s.out)))
    }
    val localNames = specs.map(s => s"__graft_prefix_local_${s.out}")
    val local = grouped.withColumns(localNames.zip(specs.map(agg(_).over(wLocal))).toMap)

    // ---- 3) per-range totals → exclusive prefix offsets → broadcast back.
    //      Aggregated over `local`: column pruning drops the window from this
    //      branch, which shuffles only rid, the order keys and the inputs. Each
    //      range is then aggregated inside one task in (rid, order) order, so a
    //      total Sum equals the range's last running sum bit for bit. Not
    //      aggregating before the shuffle is deliberate: merging per-split partials
    //      in shuffle order reassociates the sums. The two branches agree on
    //      ranges because rid is a pure row function.
    //      A Min/Max total is the extreme value; when that is a zero, the window
    //      keeps the first zero in `orderBy` (-0.0 equals 0.0), so the total takes
    //      its sign from `first`. Being order-sensitive, `first` also keeps the
    //      optimizer from dropping the sort under this aggregate (it would for
    //      min/max alone), and its fixed-width buffer keeps a HashAggregate.
    def total(s: RunningSpec): Column = {
      lazy val v = col(inName(s.out))
      def signedZero(extreme: Column) =
        when(extreme === 0.0, first(when(v === 0.0, v), ignoreNulls = true)).otherwise(extreme)
      s.op match {
        case Op.Min => signedZero(min(v))
        case Op.Max => signedZero(max(v))
        case _      => agg(s)
      }
    }
    val totalAggs = specs.map(s => total(s).as(s"__t_${s.out}"))
    val totals = local.groupBy(col(rid)).agg(totalAggs.head, totalAggs.tail: _*)
    // UNPARTITIONED window — deliberately: this frame has exactly numRanges rows
    // (64–1024), not corpus rows, so the single-partition WindowExec Spark WARNs
    // about is a micro-step; the corpus-sized data never passes through it
    val wPrev = Window.orderBy(col(rid)).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(
      col(rid) +: specs.map { s =>
        val t = col(s"__t_${s.out}")
        val off = s.op match {
          case Op.Count => coalesce(sum(t).over(wPrev), lit(0L))
          case Op.Sum   => sum(t).over(wPrev)
          case Op.Min   => min(t).over(wPrev)
          case Op.Max   => max(t).over(wPrev)
        }
        off.as(s"__o_${s.out}")
      }: _*)

    // null-SAFE equality: a null leading key yields a null range id (globally
    // first, NULLS FIRST), and those rows must still find their offset row
    val rid2 = "__graft_prefix_rid2"
    val joined = local.join(
      broadcast(offsets.withColumnRenamed(rid, rid2)), col(rid) <=> col(rid2))
      .drop(rid2)
    val outCols = specs.zip(localNames).map { case (s, ln) =>
      val l = col(ln); val o = col(s"__o_${s.out}")
      val combined = s.op match {
        case Op.Count => o + l
        // null only while NO value has been seen anywhere in the prefix
        case Op.Sum => when(l.isNull && o.isNull, lit(null).cast("double"))
          .otherwise(coalesce(o, lit(0.0)) + coalesce(l, lit(0.0)))
        case Op.Min => least(o, l)    // least/greatest skip nulls, null iff both
        case Op.Max => greatest(o, l)
      }
      combined.as(s.out)
    }
    joined
      .withColumns(specs.map(_.out).zip(outCols).toMap)
      .drop(rid +: (inName.values.toSeq ++ localNames ++ specs.map(s => s"__o_${s.out}")): _*)
  }
}
