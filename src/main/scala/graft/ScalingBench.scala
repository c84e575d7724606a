package graft

import graft.Json.{Obj, RawJson}
import graft.web.GraftMetricsListener
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence for the north rule (BASELINE.json: throughput
  * scaling efficiency ≥ 0.8 from N to 4N executors). No real multi-node cluster exists
  * in this sandbox; the closest faithful stand-in is Spark's `local-cluster` master,
  * which launches REAL executor JVMs (isolated heaps and GC, real Netty shuffle) on
  * this machine: N and 4N executors of 4 cores each, 128 shuffle partitions, identical
  * input. Each level builds the headline job once and samples it through
  * [[Probe.bestOf]] (untimed warm-up, best of [[Probe.Runs]]).
  *
  * Env: SPARK_GRAFT_SCALE_N (N, default 2), SPARK_GRAFT_EXEC_MEM_MB (executor heap,
  * default 8192), SPARK_GRAFT_HEADLINE_URLS (default 1000000), and SPARK_HOME, where
  * the local-cluster workers find Spark's launch scripts and keep each executor's logs
  * (`work/<application id>`, removed after each level).
  *
  * Prints one JSON line:
  * {"mode":"local-cluster","n":…,"rateN":…,"rate4N":…,"efficiency":…,"occupancyN":…,
  *  "occupancy4N":…,"urls":…}
  */
object ScalingBench {
  private val execCores = 4
  private val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "8192").toInt
  private val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")

  private def session(units: Int): SparkSession =
    GraftSession.builder(s"local-cluster[$units,$execCores,$execMemMb]", partitions = 128)
      .appName(s"graft-scaling-$units")
      // all workers are this host: never trade a core for locality
      .config("spark.locality.wait", "0ms")
      // local-cluster's third arg sizes the WORKER; the executor JVM still
      // defaults to 1g (-Xmx1024M observed in the launch command) — request the
      // full worker allotment or every sort/aggregate spills
      .config("spark.executor.memory", s"${execMemMb}m")
      .config("spark.test.home", sparkHome)
      // executors are fresh JVMs: they need this build's classes (SparkContext itself
      // prepends the JDK17 module opens to their java options)
      .config("spark.executor.extraClassPath",
        new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath)
      // Cgroup-faithful thread sizing: without it every executor JVM sees all
      // host cores and sizes GC/JIT/netty pools for the full machine — 4
      // executors' pools then oversubscribe the box exactly when the 4N level
      // runs, and the LONE N-level executor silently borrows idle host cores
      // for GC/JIT that no container-limited cluster executor would get.
      // Back-to-back A/B (BENCH/BASELINE.md round 3): capping raised the 4N
      // best RAW rate 1.82M→2.00M rows/s and its occupancy 0.80→0.92.
      .config("spark.executor.extraJavaOptions", s"-XX:ActiveProcessorCount=$execCores")
      .getOrCreate()

  /** Host-side interference counters, read around each timed run so a slow run can
    * be attributed: cgroup CPU throttling in ns (would fire if a quota capped us) and
    * /proc/stat "steal" ticks (hypervisor/host neighbors taking granted cycles).
    * Best-effort: absent files read as 0 (the deltas then stay 0, never lie).
    */
  private def hostCounters(): (Long, Long) = {
    // field `col` of the first line of `path` starting with `prefix`
    def counter(path: String, prefix: String, col: Int = 1): Long =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().collectFirst {
          case l if l.startsWith(prefix) => l.trim.split("\\s+")(col).toLong
        }.getOrElse(0L)
        finally src.close()
      } catch { case _: Exception => 0L }
    (counter("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time") +
      counter("/sys/fs/cgroup/cpu.stat", "throttled_usec") * 1000L,
      counter("/proc/stat", "cpu ", col = 8))
  }

  /** @return (rows/sec, CPU occupancy) of the fastest sample at `units` executors, where
    *         occupancy = Σ task-ms / (wall-ms × total cores). Low occupancy on a slow
    *         run means the cluster was starved (host interference), not that the plan
    *         stopped scaling — the attribution the efficiency criterion needs. Every
    *         sample also logs executor GC fraction (Σ jvmGCTime / Σ task-ms) and the
    *         host throttle/steal deltas, so a slow-but-busy run separates into
    *         "executors were collecting garbage" vs "the host took the cycles".
    */
  private def run(units: Int, urls: Long): (Double, Double) = {
    val spark = session(units)
    val appId = spark.sparkContext.applicationId
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (rows, job) = Bench.headlineJob(spark, urls)
      Probe.bestOf(s"scaling units=$units") {
        val (thr0, steal0) = hostCounters()
        val ((_, secs), l) = GraftMetricsListener.during(spark)(Probe.timed(job()))
        val (thr1, steal1) = hostCounters()
        val taskMs = l.totalRunTimeMs.sum()
        val (rate, occupancy) = (rows / secs, taskMs / (secs * 1000 * units * execCores))
        System.err.println(f"[scaling] units=$units rows=$rows rate=${rate.toLong} rows/s " +
          f"occupancy=$occupancy%.2f " +
          f"gcFrac=${l.totalJvmGcTimeMs.sum().toDouble / math.max(taskMs, 1L)}%.3f " +
          s"throttledNsDelta=${thr1 - thr0} stealTicksDelta=${steal1 - steal0}")
        (rate, occupancy)
      }._1
    } finally {
      spark.stop()
      FileUtils.deleteDirectory(new java.io.File(s"$sparkHome/work/$appId"))
    }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
    val urls = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_URLS", "1000000").toLong
    val (rateN, occN) = run(n, urls)
    val (rate4N, occ4N) = run(4 * n, urls)
    println(Json(Obj("mode" -> "local-cluster", "n" -> n, "rateN" -> rateN.toLong,
      "rate4N" -> rate4N.toLong, "efficiency" -> RawJson(f"${rate4N / rateN / 4.0}%.3f"),
      "occupancyN" -> RawJson(f"$occN%.2f"), "occupancy4N" -> RawJson(f"$occ4N%.2f"),
      "urls" -> urls)))
  }
}
