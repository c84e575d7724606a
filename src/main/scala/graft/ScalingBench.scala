package graft

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence for the north rule (BASELINE.json: throughput
  * scaling efficiency ≥ 0.8 from N to 4N executors). No real multi-node cluster exists
  * in this sandbox; the closest faithful stand-in is Spark's `local-cluster` master,
  * which launches REAL executor JVMs (isolated heaps and GC, real Netty shuffle) on
  * this machine: N and 4N executors of fixed size, identical input. `local[N]` mode is
  * also supported but saturates the single shared JVM (GC + allocator contention) well
  * before 32 threads — that contention is an artifact a real cluster does not have.
  *
  *   SPARK_GRAFT_MODE=local-cluster (default) | local
  *   SPARK_GRAFT_SCALE_N=2   → 2 vs 8 executors × SPARK_GRAFT_EXEC_CORES (default 4)
  *
  * Prints one JSON line:
  * {"mode":…,"n":…,"rateN":…,"rate4N":…,"efficiency":…,"urls":…}
  */
object ScalingBench {
  private val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "local-cluster")
  private val execCores = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "4").toInt
  private val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "8192").toInt

  private def session(units: Int): SparkSession = {
    val partitions = sys.env.get("SPARK_GRAFT_PARTITIONS").fold(128)(_.toInt)
    val b = mode match {
      case "local-cluster" =>
        GraftSession.builder(s"local-cluster[$units,$execCores,$execMemMb]", partitions)
          // local-cluster's third arg sizes the WORKER; the executor JVM still
          // defaults to 1g (-Xmx1024M observed in the launch command) — request the
          // full worker allotment or every sort/aggregate spills
          .config("spark.executor.memory", s"${execMemMb}m")
          .config("spark.test.home", sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
          // executors are fresh JVMs: they need this build's classes and the JDK17 opens
          .config("spark.executor.extraClassPath",
            new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath)
          .config("spark.executor.extraJavaOptions",
            // Cgroup-faithful thread sizing: without it every executor JVM sees all
            // host cores and sizes GC/JIT/netty pools for the full machine — 4
            // executors' pools then oversubscribe the box exactly when the 4N level
            // runs, and the LONE N-level executor silently borrows idle host cores
            // for GC/JIT that no container-limited cluster executor would get.
            // Back-to-back A/B (BENCH/BASELINE.md round 3): capping raised the 4N
            // best RAW rate 1.82M→2.00M rows/s and its occupancy 0.80→0.92.
            s"-XX:ActiveProcessorCount=$execCores " +
            "-XX:+IgnoreUnrecognizedVMOptions --add-opens=java.base/java.lang=ALL-UNNAMED " +
              "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED " +
              "--add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED " +
              "--add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED " +
              "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED " +
              "--add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED")
      case _ => GraftSession.builder(s"local[$units]", partitions)
    }
    b.appName(s"graft-scaling-$units")
      // all workers are this host: never trade a core for locality
      .config("spark.locality.wait", "0ms")
      .getOrCreate()
  }

  /** Host-side interference counters, read around each timed run so a slow run can
    * be attributed: cgroup CPU throttling (would fire if a quota capped us) and
    * /proc/stat "steal" ticks (hypervisor/host neighbors taking granted cycles).
    * Best-effort: absent files read as 0 (the deltas then stay 0, never lie).
    */
  private def hostCounters(): (Long, Long) = {
    def num(path: String, key: String): Long =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().collectFirst {
          case l if l.startsWith(key) => l.split("\\s+")(1).toLong
        }.getOrElse(0L)
        finally src.close()
      } catch { case _: Exception => 0L }
    val throttledNs = num("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time") +
      num("/sys/fs/cgroup/cpu.stat", "throttled_usec") * 1000L
    val stealTicks =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().collectFirst {
          case l if l.startsWith("cpu ") => l.trim.split("\\s+")(8).toLong
        }.getOrElse(0L)
        finally src.close()
      } catch { case _: Exception => 0L }
    (throttledNs, stealTicks)
  }

  /** @return (best rows/sec, CPU occupancy of the BEST run) where occupancy =
    *         Σ task-ms / (wall-ms × total cores). Low occupancy on a slow run means
    *         the cluster was starved (host interference), not that the plan stopped
    *         scaling — the attribution the efficiency criterion needs. Each run also
    *         logs executor GC fraction (Σ jvmGCTime / Σ task-ms) and the host
    *         throttle/steal deltas, so a slow-but-busy run separates into "executors
    *         were collecting garbage" vs "the host took the cycles".
    */
  private def run(units: Int, urls: Long): (Double, Double) = {
    val spark = session(units)
    spark.sparkContext.setLogLevel("WARN")
    try {
      // steady-state: first full-size run pays JIT + codegen warmup; then take the
      // best of N measured runs (shared-host noise is ±40% run to run and one-sided —
      // neighbors only ever STEAL cycles — so best-of-N approximates the noise-free
      // sustained rate at each level)
      val numRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
      require(numRuns >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $numRuns")
      val cores = units * execCores
      Bench.headline(spark, urls) // untimed warm-up
      val samples = (1 to numRuns).map { _ =>
        val l = graft.web.GraftMetricsListener.attach(spark)
        val (thr0, steal0) = hostCounters()
        val t0 = System.nanoTime()
        val (rows, rate) = Bench.headline(spark, urls)
        val wallMs = (System.nanoTime() - t0) / 1e6
        val (thr1, steal1) = hostCounters()
        Thread.sleep(300) // listener bus drain
        spark.sparkContext.removeSparkListener(l)
        val occupancy = l.totalRunTimeMs.sum() / (wallMs * cores)
        val gcFrac = l.totalJvmGcTimeMs.sum().toDouble / math.max(l.totalRunTimeMs.sum(), 1L)
        (rows, rate, occupancy, gcFrac, thr1 - thr0, steal1 - steal0)
      }
      val best = samples.maxBy(_._2)
      System.err.println(s"[scaling] mode=$mode units=$units rows=${best._1} " +
        s"rate=${best._2.toLong} rows/s " +
        s"(runs: ${samples.map(_._2.toLong).mkString(", ")}; " +
        f"occupancy: ${samples.map(s => f"${s._3}%.2f").mkString(", ")}; " +
        f"gcFrac: ${samples.map(s => f"${s._4}%.3f").mkString(", ")}; " +
        s"throttledNsDelta: ${samples.map(_._5).mkString(", ")}; " +
        s"stealTicksDelta: ${samples.map(_._6).mkString(", ")})")
      (best._2, best._3)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N",
      if (mode == "local-cluster") "2" else "8").toInt
    val urls = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_URLS", "1000000").toLong
    val (rateN, occN) = run(n, urls)
    val (rate4N, occ4N) = run(4 * n, urls)
    val eff = (rate4N / rateN) / 4.0
    println(f"""{"mode":"$mode","n":$n,"rateN":${rateN.toLong},"rate4N":${rate4N.toLong},""" +
      f""""efficiency":$eff%.3f,"occupancyN":$occN%.2f,"occupancy4N":$occ4N%.2f,"urls":$urls}""")
  }
}
