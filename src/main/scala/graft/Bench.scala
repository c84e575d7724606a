package graft

import graft.Json.{Obj, RawJson}
import graft.web.{Pages, WebFeatures}
import org.apache.spark.sql.SparkSession

/** Driver benchmark contract: one JSON line with per-query seconds, plus the headline
  * north-rule metric — feature rows/sec for as-of join + window feature synthesis over
  * the synthetic page table.
  */
object Bench {
  /** The headline job, built untimed: its output row count, and the timed region — the
    * point-in-time features and the as-of event backfill written to noop sinks. The
    * deterministic page/event tables are materialized once per `numUrls`, so the timed
    * workload is scan → features, like production, not synthetic generation.
    */
  def headlineJob(spark: SparkSession, numUrls: Long): (Long, () => Unit) = {
    val base = Probe.materialize(s"graft_bench_$numUrls") { base =>
      Pages.generate(spark, numUrls, numPartitions = 128)
        .write.mode("overwrite").parquet(s"$base/pages")
      Pages.events(spark, spark.read.parquet(s"$base/pages"))
        .write.mode("overwrite").parquet(s"$base/events")
    }
    val pages = spark.read.parquet(s"$base/pages")
    val events = spark.read.parquet(s"$base/events")
    val rows = pages.count() + events.count() // output cardinalities, computed untimed
    val jobs = Seq(WebFeatures.pointInTime(pages), WebFeatures.backfillEvents(events, pages))
    // The two jobs run CONCURRENTLY: Spark's scheduler interleaves their stages, so
    // per-job driver-serial fractions (planning, stage submit) overlap instead of
    // adding up — on a real cluster these are independent jobs on one app too.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    (rows, () => jobs.map(df => Future(Probe.noop(df))).foreach(Await.result(_, Duration.Inf)))
  }

  /** Fixed-work host-envelope probe: sort + hash-fold 16M seeded longs (128 MB —
    * past L3, so memory bandwidth is in the measurement) on ONE thread. The driver's
    * artifact and a builder's recorded envelope on the same HEAD have disagreed by
    * 35% two rounds running; a number that travels WITH each artifact lets readers
    * normalize for the host's granted CPU instead of guessing. min-of-3: host noise
    * is one-sided (a run can be slowed, never sped up).
    */
  def cpuProbe(): Double = {
    val n = 1 << 24
    val a = new Array[Long](n)
    (1 to 3).map { _ =>
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) { x = graft.functions.HashKernels.splitmix64(x); a(i) = x; i += 1 }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      var h = 0L; i = 0
      while (i < n) { h ^= graft.functions.HashKernels.splitmix64(a(i) ^ i); i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (h == 42L) System.err.println("[probe] improbable fold") // keep the fold live
      dt
    }.min
  }

  /** Total JVM GC time so far, ms (all collectors). local[*] executors share this
    * JVM, so the figure covers the measured work.
    */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val headlineUrls = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_URLS", "200000").toLong
    val spark = GraftSession()
    // untimed engine warmup: JVM + codegen + parquet footer caches. The first query
    // otherwise pays ~5s of JIT that has nothing to do with its plan (measured: an
    // identical-shape rerun takes 0.2s).
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag")).count().count()
    } catch { case _: Throwable => () }
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val secs = try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable => // a broken query must be visible in the JSON, not a timing
          errors += name
          System.err.println(s"[bench] $name FAILED: $e")
          -1.0
      }
      name -> secs
    }
    // gate queries may leave persisted frames behind (documented contracts or bugs);
    // drop them ALL before the headline so 45 queries' leftovers can't squeeze the
    // storage memory the measured jobs run under
    spark.catalog.clearCache()
    // best of 5 after an untimed warm-up (JIT + codegen, measured 5-8x effect). A single
    // sample proved untrustworthy: r2 recorded 182k rows/s where 1.11M reproduced.
    val headlineRuns = 5
    val (hRows, job) = headlineJob(spark, headlineUrls)
    val (_, hSecs) = Probe.bestOf("headline", headlineRuns)(job())
    val hRate = hRows / hSecs
    val probeSecs = cpuProbe() // after the measured work: probe under the same host state
    val gcMs = gcMillis()
    val total = results.map(_._2).filter(_ >= 0).sum
    // the policy travels with the number: readers of the JSON/BASELINE must know the
    // headline is a best-of-N steady-state figure, not a single cold run
    println(Json(Obj("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> Obj(results: _*), "errors" -> errors.toSeq, "sf" -> sfDir,
      "headline_rows" -> hRows, "headline_rows_per_sec" -> hRate.toLong,
      "headline_policy" -> s"best-of-$headlineRuns after untimed warmup",
      "headline_urls" -> headlineUrls, "cpus" -> GraftSession.cpus,
      "partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      // host-envelope self-calibration: probe_secs = fixed-work single-thread
      // sort+hash (min-of-3; bigger = a slower/noisier host granted this JVM),
      // gc_ms = total JVM GC time across the whole bench. Interpretation rules in
      // BENCH/BASELINE.md.
      "probe_secs" -> RawJson(f"$probeSecs%.3f"), "gc_ms" -> gcMs)))
    spark.stop()
  }
}
